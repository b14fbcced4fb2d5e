"""Heavy-hitters operator + count-min sketch tests."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from qurious_spark.operators.heavyhitters import heavy_hitters
from tests.conftest import job_ids

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events(spark):
    from qurious_spark.sources.readers import read_parquet

    return read_parquet(spark, f"{SF}/events.parquet").cache()


def test_heavy_hitters_matches_exact_groupby(spark, events):
    n = events.count()
    # threshold just above the mean per-user share so only some users pass
    ratio = 1.05 / events.select("user_id").distinct().count()
    got = {
        (r.user_id, r.freq) for r in heavy_hitters(events, "user_id", ratio).collect()
    }
    exact = {
        (r.user_id, r.freq)
        for r in events.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("freq"))
        .filter(F.col("freq").cast("double") >= F.lit(ratio * n))
        .collect()
    }
    assert got == exact and got  # exact match, nonempty


def test_heavy_hitters_small_capacity_still_exact(spark, events):
    # tightest legal capacity (= ceil(1/ratio)) must keep the guarantee
    import math

    ratio = 0.19
    got = heavy_hitters(
        events.select(F.col("event_type").alias("k")), "k", ratio,
        capacity=math.ceil(1 / ratio),
    ).collect()
    n = events.count()
    exact = (
        events.groupBy(F.col("event_type").alias("k"))
        .agg(F.count(F.lit(1)).alias("freq"))
        .filter(F.col("freq").cast("double") >= F.lit(ratio * n))
        .collect()
    )
    assert {(r.k, r.freq) for r in got} == {(r.k, r.freq) for r in exact}


def test_heavy_hitters_rejects_bad_params(spark, events):
    with pytest.raises(ValueError):
        heavy_hitters(events, "user_id", 0.0)
    with pytest.raises(ValueError):
        heavy_hitters(events, "user_id", 0.5, capacity=1)
    with pytest.raises(ValueError):  # exactly one of ratio / min_count
        heavy_hitters(events, "user_id")
    with pytest.raises(ValueError):
        heavy_hitters(events, "user_id", 0.1, min_count=5)
    with pytest.raises(ValueError):
        heavy_hitters(events, "user_id", min_count=0)


def test_heavy_hitters_min_count_matches_exact_groupby(spark, events):
    """Absolute-threshold mode (used by heavy_hitters_ngrams for its
    doc-frequency floor): exact integer filter, same superset guarantee
    via the self-scaled capacity."""
    min_count = 1 + events.count() // events.select("user_id").distinct().count()
    got = {
        (r.user_id, r.freq)
        for r in heavy_hitters(events, "user_id", min_count=min_count).collect()
    }
    exact = {
        (r.user_id, r.freq)
        for r in events.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("freq"))
        .filter(F.col("freq") >= min_count)
        .collect()
    }
    assert got == exact and got


@pytest.mark.parametrize(
    "ratio, n, key_freq, kept",
    [
        (0.5, 10, 5, True),  # ratio * n is 5.0 exactly: freq == threshold is kept
        (0.28, 25, 7, False),  # 0.28 * 25 is 7.000000000000001 in doubles
    ],
)
def test_ratio_threshold_is_the_double_product(spark, ratio, n, key_freq, kept):
    """n is counted inside the plan; the filter must compare freq with
    the double product ratio * n, bit for bit."""
    assert (key_freq >= ratio * n) == kept
    rows = [("hot",)] * key_freq + [(f"k{i}",) for i in range(n - key_freq)]
    df = spark.createDataFrame(rows, "k string")
    got = {(r.k, r.freq) for r in heavy_hitters(df, "k", ratio).collect()}
    assert (("hot", key_freq) in got) == kept
    exact = {
        (r.k, r.freq)
        for r in df.groupBy("k").agg(F.count(F.lit(1)).alias("freq"))
        .filter(F.col("freq").cast("double") >= F.lit(ratio * n))
        .collect()
    }
    assert got == exact


def test_ratio_mode_build_starts_no_job(spark, events):
    with job_ids(spark, "heavy-hitters:build") as ids:
        heavy_hitters(events, "event_type", 0.199)
    assert ids == []


def test_count_min_sketch_bounds(spark, events):
    from qurious_spark.functions.sketches import cms_estimate, count_min

    eps = 0.01
    sk = events.agg(count_min("event_type", eps=eps).alias("s")).collect()[0]["s"]
    n = events.count()
    truth = {r.event_type: r.c for r in events.groupBy("event_type").agg(F.count(F.lit(1)).alias("c")).collect()}
    for k, true_c in truth.items():
        est = cms_estimate(spark, bytes(sk), k)
        assert true_c <= est <= true_c + eps * n  # CMS never undercounts
