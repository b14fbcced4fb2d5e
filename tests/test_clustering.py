"""Semantic dedup / clustering operator (operators/clustering.py)."""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from qurious_spark.functions import vector as V
from qurious_spark.operators.clustering import (
    assign_clusters,
    seed_centroids,
    semantic_dedup,
)
from qurious_spark.operators.similarity import kmeans_centroids, with_double_vec

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def test_seed_centroids_deterministic(emb):
    c1 = seed_centroids(emb, 8).collect()
    c2 = seed_centroids(emb, 8).collect()
    assert sorted(r["bucket"] for r in c1) == list(range(8))
    assert {r["bucket"]: r["centroid"] for r in c1} == {
        r["bucket"]: r["centroid"] for r in c2
    }


def test_assignment_is_total_and_unique(emb):
    cent = seed_centroids(emb, 8)
    asg = assign_clusters(emb, cent)
    n = emb.count()
    assert asg.count() == n
    assert asg.select("vec_id").distinct().count() == n
    assert asg.filter((F.col("bucket") < 0) | (F.col("bucket") >= 8)).count() == 0


def test_assignment_matches_exact_argmax(emb):
    """Every vector's bucket is a true argmax of the rounded cosine."""
    cent = seed_centroids(emb, 8)
    asg = assign_clusters(emb, cent).select("vec_id", "bucket")
    scored = (
        with_double_vec(emb)
        .crossJoin(F.broadcast(cent))
        .withColumn("sim", F.expr(f"round({V.cosine_sql('embedding', 'centroid')}, 6)"))
        .select("vec_id", "bucket", "sim")
    )
    best = scored.groupBy("vec_id").agg(F.max("sim").alias("best"))
    chosen = scored.join(asg, ["vec_id", "bucket"])  # sim to the assigned bucket
    bad = chosen.join(best, "vec_id").filter(F.col("sim") < F.col("best")).count()
    assert bad == 0


def test_semantic_dedup_no_close_pair_survives(emb):
    """Core invariant: among kept vectors, no same-cluster pair >= thresh."""
    t = 0.3
    kept = semantic_dedup(emb, n_clusters=8, threshold=t, iters=0)
    joined = kept.join(with_double_vec(emb), "vec_id").select(
        "vec_id", "bucket", "embedding"
    )
    a = joined.select(
        F.col("bucket"), F.col("vec_id").alias("ia"), F.col("embedding").alias("va")
    )
    b = joined.select(
        F.col("bucket"), F.col("vec_id").alias("ib"), F.col("embedding").alias("vb")
    )
    # A kept vector may still be within-threshold of a DROPPED one (the rule
    # keeps the lowest id of each pair); what may NOT happen is two KEPT
    # vectors in the same cluster above threshold where the higher id should
    # have been dropped.
    survivors = (
        a.join(b, "bucket")
        .filter(F.col("ia") < F.col("ib"))
        .filter(F.expr(f"round({V.cosine_sql('va', 'vb')}, 6)") >= t)
        .count()
    )
    assert survivors == 0


def test_semantic_dedup_drops_injected_duplicates(spark, emb):
    """A vector cloned with id+10000 must lose to its original."""
    clones = (
        emb.orderBy("vec_id")
        .limit(3)
        .select((F.col("vec_id") + 10000).alias("vec_id"), "embedding", "label")
    )
    df = emb.unionByName(clones)
    kept = semantic_dedup(df, n_clusters=8, threshold=0.999, iters=0)
    kept_ids = {r["vec_id"] for r in kept.collect()}
    assert not any(i >= 10000 for i in kept_ids)
    # originals survive
    orig = [r["vec_id"] for r in emb.orderBy("vec_id").limit(3).collect()]
    assert all(i in kept_ids for i in orig)


def test_semantic_dedup_with_lloyd_iters_runs_and_holds_invariant(emb):
    kept = semantic_dedup(emb, n_clusters=8, threshold=0.3, iters=2)
    n = emb.count()
    k = kept.count()
    assert 0 < k <= n
    # still unique ids and valid buckets
    assert kept.select("vec_id").distinct().count() == k
    assert kept.filter((F.col("bucket") < 0) | (F.col("bucket") >= 8)).count() == 0


def test_kmeans_refinement_reduces_sse(emb):
    """Lloyd's must not increase total within-cluster SSE vs seed init."""

    def sse(cent):
        asg = (
            with_double_vec(emb)
            .crossJoin(F.broadcast(cent))
            .withColumn("sim", F.expr(V.cosine_sql("embedding", "centroid")))
        )
        from pyspark.sql import Window

        w = Window.partitionBy("vec_id").orderBy(F.desc("sim"), F.asc("bucket"))
        best = asg.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
        dist = best.select(
            F.expr(
                "aggregate(zip_with(embedding, centroid, (a, b) -> (a - b) * (a - b)),"
                " 0D, (acc, x) -> acc + x)"
            ).alias("d2")
        )
        return dist.agg(F.sum("d2")).collect()[0][0]

    seeds = seed_centroids(emb, 8)
    refined = kmeans_centroids(emb, 8, iters=2)
    assert sse(refined) <= sse(seeds) * 1.001
