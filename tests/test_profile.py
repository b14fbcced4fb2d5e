"""Single-pass column profiling (operators/profile.py)."""

from pyspark.sql import functions as F

from qurious_spark.operators.profile import profile


def test_profile_stats_and_single_scan(spark):
    df = spark.createDataFrame(
        [(1, 10.0, "a"), (2, None, "b"), (3, 30.0, None), (4, 20.0, "a")],
        "id int, v double, s string",
    )
    rows = {r.col_name: r for r in profile(df).collect()}
    assert set(rows) == {"id", "v", "s"}
    assert all(r.n_rows == 4 for r in rows.values())
    assert rows["v"].n_nulls == 1 and rows["v"].n_distinct == 3
    assert rows["v"].min_v == 10.0 and rows["v"].max_v == 30.0 and rows["v"].avg_v == 20.0
    assert rows["s"].n_nulls == 1 and rows["s"].n_distinct == 2
    assert rows["s"].min_v is None  # non-numeric: no range stats

    # one scan regardless of column count
    plan = profile(df)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan ") <= 1


def test_profile_handles_hostile_column_names(spark):
    df = spark.createDataFrame([(1, 2.0, 3, "x")], ["a'b", "c d", "e.f", "g`\\h"])
    rows = {r.col_name: r for r in profile(df).collect()}
    assert set(rows) == {"a'b", "c d", "e.f", "g`\\h"}
    assert rows["a'b"].n_nulls == 0 and rows["c d"].avg_v == 2.0
    assert rows["e.f"].max_v == 3.0 and rows["g`\\h"].n_distinct == 1
