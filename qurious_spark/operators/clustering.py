"""Semantic deduplication over embeddings (SemDeDup-style).

Exact and MinHash dedup (operators/dedup.py) catch near-identical *text*;
semantic dedup catches documents that say the same thing in different
words. The published recipe (Abbas et al. 2023, "SemDeDup: Data-efficient
learning at web-scale through semantic deduplication", arXiv:2303.09540)
is: k-means-cluster the embeddings, compute pairwise cosine only WITHIN
each cluster, and drop all but one of every pair above a similarity
threshold.

Scale design — the whole point of the cluster step:
- a global all-pairs cosine is O(n²) and infeasible at corpus scale;
- clustering first bounds the quadratic term to O(sum over clusters of
  |c|²): with k clusters of roughly n/k vectors, a 1000× corpus needs
  k to grow ~1000× to keep per-cluster work flat — k is the knob, and
  the k-means itself is linear passes (broadcast centroids, one shuffle
  per Lloyd iteration — operators/similarity.py kmeans_centroids);
- the within-cluster self-join is an equi-join on the cluster id, so it
  shuffles each cluster to one place and never materializes cross-cluster
  pairs;
- the keep/drop decision ("drop any vector with a lower-id neighbor above
  the threshold in its cluster") is a deterministic anti-join, not an
  iterative greedy scan.

The reference engine has no vector surface at all (SURVEY §1.1-1.2: no
nested types); this module is part of the training-data-pipeline extension
the brief calls for.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from qurious_spark.functions import vector as V
from qurious_spark.operators.similarity import kmeans_centroids, with_double_vec


def assign_clusters(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Nearest-centroid assignment with oracle-stable tie-breaking.

    ``centroids`` is (bucket, centroid: array<double>) and is broadcast.
    Similarity is rounded to 6 decimals before the argmax and ties go to
    the LOWEST bucket id, so an independent engine computing the same
    rounded cosines assigns identically (the convention the query
    registry's DuckDB oracles rely on).
    """
    scored = (
        with_double_vec(df, vec_col)
        .crossJoin(F.broadcast(centroids))
        .withColumn("__sim", F.expr(f"round({V.cosine_sql(f'`{vec_col}`', 'centroid')}, 6)"))
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("__sim"), F.asc("bucket"))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__sim", "centroid")
    )


def seed_centroids(
    df: DataFrame, n_clusters: int, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Deterministic zero-iteration "centroids": the first ``n_clusters``
    vectors by id, bucket-numbered in id order. Replicable by any engine,
    which makes the full semantic-dedup pipeline exactly oracle-checkable;
    pass the result of ``kmeans_centroids`` instead for real Lloyd's (it
    starts from these seeds)."""
    return (
        with_double_vec(df, vec_col)
        .select(id_col, vec_col)
        .orderBy(id_col)
        .limit(n_clusters)
        # benign unpartitioned window: input is already limit(n_clusters)
        # rows (≈16) regardless of corpus size
        .withColumn("bucket", F.row_number().over(Window.orderBy(id_col)) - 1)
        .select("bucket", F.col(vec_col).alias("centroid"))
    )


def semantic_dedup(
    df: DataFrame,
    n_clusters: int = 16,
    threshold: float = 0.45,
    iters: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Drop every vector that has a lower-id neighbor with cosine >=
    ``threshold`` inside its cluster; return the kept rows as
    ``(id_col, bucket)``.

    ``iters=0`` assigns to deterministic seed vectors (exactly
    oracle-replicable); ``iters>0`` runs that many Lloyd refinements first
    (better clusters, engine-specific float averages).
    """
    if n_clusters <= 0:
        raise ValueError("n_clusters must be positive")
    if not -1.0 <= threshold <= 1.0:
        raise ValueError("threshold must be a cosine in [-1, 1]")
    cent = (
        seed_centroids(df, n_clusters, id_col, vec_col)
        if iters == 0
        else kmeans_centroids(
            df, n_clusters, iters=iters, id_col=id_col, vec_col=vec_col
        )
    )
    from qurious_spark.operators.caching import persist_rotating

    assigned = persist_rotating(
        assign_clusters(df, cent, id_col, vec_col), "semdedup_assigned"
    )  # consumed by both sides of the within-cluster self-join AND the keep anti-join
    a = assigned.select(
        F.col("bucket"), F.col(id_col).alias("id_a"), F.col(vec_col).alias("va")
    )
    b = assigned.select(
        F.col("bucket"), F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb")
    )
    dropped = (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(F.expr(f"round({V.cosine_sql('va', 'vb')}, 6)") >= threshold)
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    return assigned.join(dropped, id_col, "left_anti").select(
        id_col, F.col("bucket").cast("bigint").alias("bucket")
    )
