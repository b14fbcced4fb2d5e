"""Fuzzy join: q-gram pruned edit-distance join vs brute force."""

import pytest
from pyspark.sql import functions as F

from qurious_spark.operators.fuzzyjoin import fuzzy_join, qgrams


@pytest.mark.slow
def test_matches_equal_brute_force(spark):
    left = spark.createDataFrame(
        [(1, "MOZAMBIQUE"), (2, "MOZAMBIQE"), (3, "ARGENTINA"), (4, "XXXXXX")],
        "id int, name string",
    )
    right = spark.createDataFrame(
        [(10, "MOZAMBIQUE"), (11, "ARGENTINA"), (12, "ROMANIA")],
        "rid int, rname string",
    )
    got = {
        (r.id, r.rid, r.dist)
        for r in fuzzy_join(left, right, "name", "rname", max_dist=1).collect()
    }
    brute = {
        (r.id, r.rid, r.d)
        for r in left.crossJoin(right)
        .withColumn("d", F.levenshtein("name", "rname"))
        .filter(F.col("d") <= 1)
        .collect()
    }
    assert got == brute
    assert (1, 10, 0) in got and (2, 10, 1) in got


def test_no_bnlj_in_plan(spark):
    left = spark.createDataFrame([(1, "ALPHA")], "id int, name string")
    right = spark.createDataFrame([(2, "ALPHB")], "rid int, rname string")
    out = fuzzy_join(left, right, "name", "rname")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_short_strings_collapse_to_whole_gram(spark):
    df = spark.createDataFrame([(1, "A")], "id int, s string")
    row = df.selectExpr(f"{qgrams('s', 2)} AS g").collect()[0]
    assert row.g == ["A"]
