"""Pins for the r12 text-path optimizations (queries/text.py).

1. The heavy per-document text queries widen their narrow local scan via
   spread() — the plan must carry a round-robin repartition locally (it is
   a no-op on already-wide cluster scans) and values must be identical to
   the un-spread form.
2. text_tfidf_top_terms derives the corpus size as a 1-row broadcast
   (crossJoin(broadcast(count)), the tpch_q11 scalar shape) instead of a
   driver-blocking docs.count() at build time — values must be bit-equal
   to the literal-count form.
"""

from __future__ import annotations

import struct

import pytest

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    from qurious_spark.session import get_spark

    return get_spark()


def _bits(rows):
    out = []
    for r in rows:
        out.append(
            tuple(struct.pack(">d", v) if isinstance(v, float) else v for v in r)
        )
    return out


def test_text_quality_widens_and_matches_unspread(spark):
    import qurious_spark.queries as q
    from qurious_spark.functions import text as T

    q.load_all()
    q.ensure_views(spark, SF)
    # below the 64 KiB/partition floor (sf0.001) spread is a no-op: the
    # plan must stay exchange-free
    tiny = q.REGISTRY["text_quality"](spark, SF)
    assert "Exchange" not in tiny._jdf.queryExecution().executedPlan().toString()
    # at sf0.1 the 0.6 MB scan widens through a round-robin repartition
    # (plan-only assertion; no execution)
    q.ensure_views(spark, "/root/testdata/sf0.1")
    wide = q.REGISTRY["text_quality"](spark, "/root/testdata/sf0.1")
    plan01 = wide._jdf.queryExecution().executedPlan().toString()
    assert "RoundRobinPartitioning" in plan01, plan01[:500]
    narrow = q.table(spark, SF, "documents").selectExpr(
        "doc_id", f"{T.quality_score('`text`')} AS quality"
    )
    assert tiny.schema == narrow.schema
    assert sorted(_bits(tiny.collect())) == sorted(_bits(narrow.collect()))


def test_duplicate_spans_widened_matches_unspread(spark):
    import qurious_spark.queries as q
    from qurious_spark.operators.dedup import duplicated_spans

    q.load_all()
    q.ensure_views(spark, SF)
    widened = q.REGISTRY["text_duplicate_spans"](spark, SF)
    narrow = duplicated_spans(q.table(spark, SF, "documents"), min_len=60)
    assert widened.schema == narrow.schema
    assert sorted(_bits(widened.collect())) == sorted(_bits(narrow.collect()))


def test_tfidf_broadcast_count_matches_literal_count(spark):
    import qurious_spark.queries as q
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from qurious_spark.functions import text as T

    q.load_all()
    q.ensure_views(spark, SF)
    new = q.REGISTRY["text_tfidf_top_terms"](spark, SF)
    docs = q.table(spark, SF, "documents")
    toks = docs.selectExpr("doc_id", f"explode({T.tokens('`text`')}) AS tok")
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = toks.groupBy("tok").agg(F.count_distinct("doc_id").alias("df"))
    n_docs = docs.count()
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("tok"))
    old = (
        tf.join(F.broadcast(dfreq), "tok")
        .withColumn(
            "tfidf",
            F.round(F.col("tf") * F.log((n_docs + 1.0) / (F.col("df") + 1.0)), 6),
        )
        .withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter((F.col("rnk") <= 3) & (F.col("doc_id") < 200))
        .select("doc_id", "tok", "tfidf", "rnk")
        .orderBy("doc_id", "rnk")
    )
    assert new.schema == old.schema
    assert _bits(new.collect()) == _bits(old.collect())
