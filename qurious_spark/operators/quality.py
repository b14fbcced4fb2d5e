"""Data-quality validation for pipeline gates (Deequ-style, single-pass).

Training-data pipelines gate every stage on data-quality checks —
completeness, uniqueness, value ranges, referential integrity (the pattern
popularized by AWS Deequ and dbt tests). The Spark-first shape matters at
100 TB: the whole report is ONE lazy plan over ONE scan — every metric is
an expression of one aggregate, so adding a check adds an aggregate
expression, not a job. A referential-integrity check adds a left join to
the dimension's distinct key set (typically broadcastable); the aggregate
counts the rows whose key found no match. Building the report runs no
Spark job: the checks become rows in the plan itself, not on the driver.

The reference engine has no validation surface; this is pipeline-extension
scope, like profiling (operators/profile.py) but pass/fail-oriented.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame

from qurious_spark.session import _ident, _literal

_SCHEMA = "check string, target string, metric double, threshold double, passed boolean"


def _text(sql: str) -> str:
    """``sql`` with its braces doubled, so ``spark.sql``'s DataFrame
    placeholders (``{df}``) leave names and literals as written."""
    return sql.replace("{", "{{").replace("}", "}}")


def _round6(m: str) -> str:
    """SQL for Python's ``round(m, 6)`` on the double ``m``: half-even on
    m's exact binary value. Spark's ``round`` and ``bround`` round m's
    shortest decimal string instead, and both differ from Python when that
    string ends in 5 at the 7th place (3/640 = 0.0046875 is a little below
    it: Python 0.004687, Spark 0.004688). Dekker's product gives m * 1e6 =
    p + e exactly (1e6 has 14 significant bits, the Veltkamp split ``h`` of
    m 26), so the fraction of p decides, and at exactly 0.5 the sign of e,
    then the parity of floor(p)."""
    p, c = f"({m} * 1000000D)", f"({m} * 134217729D)"
    h = f"({c} - ({c} - {m}))"
    e = f"(({h} * 1000000D - {p}) + ({m} - {h}) * 1000000D)"
    f, r = f"floor({p})", f"({p} - floor({p}))"
    up = f"{r} > 0.5D OR ({r} = 0.5D AND ({e} > 0D OR ({e} = 0D AND {f} % 2 = 1)))"
    return f"(({f} + CASE WHEN {up} THEN 1 ELSE 0 END) / 1000000D)"


def quality_report(
    df: DataFrame,
    completeness: dict[str, float] | None = None,
    unique: Sequence[str] = (),
    ranges: dict[str, tuple[float, float]] | None = None,
    foreign_keys: Sequence[tuple[str, DataFrame, str]] = (),
) -> DataFrame:
    """One row per check: (check, target, metric, threshold, passed).

    - ``completeness``: column -> minimum non-null fraction.
    - ``unique``: columns whose values must be distinct across rows.
    - ``ranges``: column -> (lo, hi); metric = fraction of non-null values
      inside [lo, hi], threshold 1.0.
    - ``foreign_keys``: (column, dim_df, dim_col); metric = fraction of
      non-null values present in the dimension's key set, threshold 1.0.

    Rows come in that order. The report is one lazy plan, and building it
    starts no Spark job: each foreign key left-joins the dimension's
    distinct keys (broadcast when small), one aggregate carries every
    metric's numerator and denominator, and ``inline`` turns the metrics
    into rows. ``metric`` is Python's ``round(m, 6)``; ``passed`` compares
    the unrounded m. A zero denominator (empty input, all NULL) gives a
    vacuous pass with metric 1.0.
    """
    completeness = completeness or {}
    ranges = ranges or {}

    def col(c: str) -> str:
        return f"__t.{_text(_ident(c))}"

    # (check, target, numerator, denominator, threshold), numerator and
    # denominator as aggregate SQL over the joined input
    checks = [
        ("completeness", c, f"count({col(c)})", "count(1)", thr)
        for c, thr in completeness.items()
    ]
    checks += [
        ("unique", c, f"count(DISTINCT {col(c)})", f"count({col(c)})", 1.0) for c in unique
    ]
    checks += [
        (
            "range",
            c,
            f"count_if({col(c)} BETWEEN {_literal(lo)} AND {_literal(hi)})",
            f"count({col(c)})",
            1.0,
        )
        for c, (lo, hi) in ranges.items()
    ]
    joins = ""
    dims = {}
    for i, (c, dim, dim_col) in enumerate(foreign_keys):
        dims[f"dim{i}"] = dim
        joins += (
            f" LEFT JOIN (SELECT DISTINCT {_text(_ident(dim_col))} AS k, true AS hit"
            f" FROM {{dim{i}}}) AS __fk{i} ON {col(c)} = __fk{i}.k"
        )
        orphans = f"count_if({col(c)} IS NOT NULL AND __fk{i}.hit IS NULL)"
        checks.append(
            ("foreign_key", c, f"count({col(c)}) - {orphans}", f"count({col(c)})", 1.0)
        )
    if not checks:
        return df.sparkSession.createDataFrame([], _SCHEMA)

    sums = ", ".join(f"{num} AS num{i}, {den} AS den{i}" for i, (_, _, num, den, _) in enumerate(checks))
    fracs = ", ".join(
        f"CASE WHEN den{i} = 0 THEN 1.0D ELSE CAST(num{i} AS DOUBLE) / den{i} END AS m{i}"
        for i in range(len(checks))
    )
    rows = ", ".join(
        f"named_struct('check', '{check}', 'target', {_text(_literal(target))},"
        f" 'metric', {_round6(f'm{i}')}, 'threshold', {_literal(float(thr))},"
        f" 'passed', m{i} >= {_literal(float(thr))})"
        for i, (check, target, _, _, thr) in enumerate(checks)
    )
    return df.sparkSession.sql(
        f"SELECT inline(array({rows})) FROM (SELECT {fracs} FROM"
        f" (SELECT {sums} FROM {{df}} AS __t{joins}))",
        df=df,
        **dims,
    )
