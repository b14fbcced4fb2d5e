"""Deequ-style quality gate (operators/quality.py)."""

import pytest
from pyspark.sql import Row

from qurious_spark.operators.quality import quality_report
from tests.conftest import job_ids


def _by_check(df):
    return {(r.check, r.target): (r.metric, r.passed) for r in df.collect()}


def test_metrics_and_fail_paths(spark):
    rows = [
        Row(k=1, v=10.0, fk=1),
        Row(k=2, v=None, fk=1),
        Row(k=2, v=500.0, fk=9),  # dup key, out-of-range v, orphan fk
        Row(k=3, v=50.0, fk=None),  # NULL fk is not an orphan
    ]
    df = spark.createDataFrame(rows, "k long, v double, fk long")
    dim = spark.createDataFrame([Row(id=1)], "id long")
    rep = _by_check(
        quality_report(
            df,
            completeness={"v": 0.7},
            unique=["k"],
            ranges={"v": (0.0, 100.0)},
            foreign_keys=[("fk", dim, "id")],
        )
    )
    assert rep[("completeness", "v")] == (0.75, True)  # 3/4 >= 0.7
    assert rep[("unique", "k")] == (0.75, False)  # 3 distinct / 4 non-null
    m, p = rep[("range", "v")]
    assert (m, p) == (round(2 / 3, 6), False)  # 500 outside, NULL ignored
    m, p = rep[("foreign_key", "fk")]
    assert (m, p) == (round(2 / 3, 6), False)  # fk=9 orphan, NULL ignored


def test_empty_frame_vacuous_passes(spark):
    df = spark.createDataFrame([], "k long, v double")
    rep = _by_check(
        quality_report(df, completeness={"v": 1.0}, unique=["k"], ranges={"v": (0, 1)})
    )
    assert all(m == 1.0 and p for m, p in rep.values())


def test_all_green(spark):
    df = spark.createDataFrame(
        [Row(k=1, v=1.0), Row(k=2, v=2.0)], "k long, v double"
    )
    rep = _by_check(quality_report(df, completeness={"v": 1.0}, unique=["k"], ranges={"v": (0, 5)}))
    assert all(p for _, p in rep.values())


# --------------------------------------------------------------------------- #
# The report is one lazy plan; its rows must equal the eager computation:
# counts on the driver, the ratio and Python's round(m, 6) in Python.
# --------------------------------------------------------------------------- #

REPORT_DTYPES = [
    ("check", "string"), ("target", "string"), ("metric", "double"),
    ("threshold", "double"), ("passed", "boolean"),
]


def _eager_report(df, completeness=None, unique=(), ranges=None, foreign_keys=()):
    rows = df.collect()

    def vals(c):
        return [r[c] for r in rows if r[c] is not None]

    def frac(num, den):
        return 1.0 if not den else num / den

    out = []
    for c, thr in (completeness or {}).items():
        out.append(("completeness", c, frac(len(vals(c)), len(rows)), float(thr)))
    for c in unique:
        out.append(("unique", c, frac(len(set(vals(c))), len(vals(c))), 1.0))
    for c, (lo, hi) in (ranges or {}).items():
        inside = sum(lo <= v <= hi for v in vals(c))
        out.append(("range", c, frac(inside, len(vals(c))), 1.0))
    for c, dim, dim_col in foreign_keys:
        keys = {r[dim_col] for r in dim.collect()}
        out.append(("foreign_key", c, frac(sum(v in keys for v in vals(c)), len(vals(c))), 1.0))
    return [(chk, t, float(round(m, 6)), thr, m >= thr) for chk, t, m, thr in out]


def _cases(spark):
    df = spark.createDataFrame(
        [Row(k=1, v=10.0, fk=1, g=None), Row(k=2, v=None, fk=9, g=None),
         Row(k=2, v=500.0, fk=None, g=None), Row(k=3, v=50.0, fk=2, g=None)],
        "k long, v double, fk long, g long",
    )
    dim = spark.createDataFrame([Row(id=1), Row(id=2), Row(id=2)], "id long")
    empty_dim = spark.createDataFrame([], "id long")
    odd = "a.b`c {x}"  # a dot, a backtick, a space and braces
    named = spark.createDataFrame(
        [(1, 1), (5, 7), (None, 1), (2, 2)], f"`{odd.replace('`', '``')}` long, o long"
    )
    # 3 of 640 non-null: 0.0046875 is 5 at the 7th place, and the double
    # lies just below it, so Python rounds down where Spark's round and
    # bround round up
    tie = spark.range(640).selectExpr("IF(id < 3, id, NULL) AS t")
    checks = dict(completeness={"v": 0.7}, unique=["k"], ranges={"v": (0.0, 100.0)})
    return {
        "mixed": (df, dict(checks, foreign_keys=[("fk", dim, "id")])),
        "empty_frame": (df.limit(0), dict(checks, foreign_keys=[("fk", dim, "id")])),
        "empty_dimension": (df, dict(foreign_keys=[("fk", empty_dim, "id")])),
        "all_null_fk": (df, dict(completeness={"g": 0.5}, foreign_keys=[("g", dim, "id")])),
        "two_fks": (df, dict(foreign_keys=[("fk", dim, "id"), ("k", dim, "id")])),
        "backticks": (
            named,
            dict(completeness={odd: 0.5}, unique=[odd], ranges={odd: (1, 1)},
                 foreign_keys=[(odd, named, "o")]),
        ),
        "round_half_tie": (tie, dict(completeness={"t": 0.004687}, unique=["t"])),
        "int_range_bounds": (df, dict(ranges={"k": (1, 2)}, completeness={"k": 1})),
    }


CASES = [
    "mixed", "empty_frame", "empty_dimension", "all_null_fk", "two_fks",
    "backticks", "round_half_tie", "int_range_bounds",
]


@pytest.mark.parametrize("case", CASES)
def test_lazy_report_equals_eager(spark, case):
    df, kw = _cases(spark)[case]
    rep = quality_report(df, **kw)
    assert rep.dtypes == REPORT_DTYPES
    assert [tuple(r) for r in rep.collect()] == _eager_report(df, **kw)


def test_round_half_tie_rounds_the_binary_value(spark):
    df, kw = _cases(spark)["round_half_tie"]
    (_, _, metric, _, passed), _ = quality_report(df, **kw).collect()
    assert (metric, passed) == (0.004687, True)


def test_report_build_starts_no_job(spark):
    df, kw = _cases(spark)["mixed"]
    with job_ids(spark, "quality:build") as ids:
        quality_report(df, **kw)
    assert ids == []
