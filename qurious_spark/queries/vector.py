"""Similarity-search queries over ``embeddings`` (vec_id, embedding float[64], label).

The DuckDB oracle computes cosine with the explicit dot/(|a||b|) formula in
double precision — same operation order as functions/vector.py — and both
sides round to 6 decimals before comparison/thresholding.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from qurious_spark.checkpoint import checkpoint as _checkpoint
from qurious_spark.functions import vector as V
from qurious_spark.operators import similarity as S
from qurious_spark.queries import df_query, register, table

COS_THRESH = 0.45

_DUCK_COS = """
CASE WHEN sqrt(list_sum(list_transform({a}, x -> x*x))) * sqrt(list_sum(list_transform({b}, x -> x*x))) > 0
     THEN list_dot_product({a}, {b})
          / (sqrt(list_sum(list_transform({a}, x -> x*x))) * sqrt(list_sum(list_transform({b}, x -> x*x))))
     ELSE 0.0 END
"""


def _cos(a: str, b: str) -> str:
    return _DUCK_COS.format(a=a, b=b)


@df_query(
    "vector_norms",
    """
    SELECT vec_id,
           ROUND(sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x*x))), 6) AS l2,
           CAST(len(embedding) AS BIGINT) AS dim,
           label
    FROM embeddings
    """,
)
def vector_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = S.with_double_vec(table(spark, sf_dir, "embeddings"))
    return emb.selectExpr(
        "vec_id",
        f"round({V.l2_norm_sql('embedding')}, 6) AS l2",
        "CAST(size(embedding) AS BIGINT) AS dim",
        "label",
    )


@df_query(
    "embedding_cosine_pairs",
    f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND({_cos('a.v', 'b.v')}, 6) AS sim
    FROM e a, e b
    WHERE a.vec_id < b.vec_id AND ROUND({_cos('a.v', 'b.v')}, 6) >= {COS_THRESH}
    """,
)
def embedding_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return S.cosine_pairs(table(spark, sf_dir, "embeddings"), threshold=COS_THRESH)


@df_query(
    "ann_topk_bruteforce",
    f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
    scored AS (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               ROUND({_cos('q.qv', 'e.v')}, 6) AS sim
        FROM e, q WHERE e.vec_id <> q.query_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id, sim,
               CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rank
        FROM scored
    )
    SELECT query_id, neighbor_id, rank, sim FROM ranked WHERE rank <= 10
    """,
)
def ann_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    return S.brute_force_topk(emb, emb.filter(F.col("vec_id") < 5), k=10)


@df_query(
    "embedding_centroids",
    """
    SELECT label, pos, ROUND(AVG(v), 6) AS centroid_v FROM (
        SELECT label,
               CAST(unnest(range(1, len(embedding) + 1)) AS BIGINT) AS pos,
               unnest(CAST(embedding AS DOUBLE[])) AS v
        FROM embeddings
    ) GROUP BY 1, 2
    """,
)
def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = S.with_double_vec(table(spark, sf_dir, "embeddings"))
    return (
        emb.select("label", F.posexplode("embedding").alias("pos0", "v"))
        .withColumn("pos", (F.col("pos0") + 1).cast("bigint"))
        .groupBy("label", "pos")
        .agg(F.round(F.avg("v"), 6).alias("centroid_v"))
    )


LSH_TABLES, LSH_BITS, LSH_DIM, LSH_SEED = 8, 6, 64, 42


def _duck_srp_key(v: str, table_planes: list[list[float]]) -> str:
    """DuckDB expression for one table's packed sign-bit key — same ±1
    planes, same left-to-right double fold as the Spark side."""
    terms = []
    for j, plane in enumerate(table_planes):
        lit = "[" + ",".join(f"{x:.1f}" for x in plane) + "]"
        terms.append(f"(CASE WHEN list_dot_product({v}, {lit}) >= 0 THEN {2**j} ELSE 0 END)")
    return " + ".join(terms)


def _lsh_oracle() -> str:
    from qurious_spark.operators.similarity import srp_planes

    planes = srp_planes(LSH_DIM, LSH_TABLES, LSH_BITS, LSH_SEED)
    key_cols = ",\n           ".join(
        f"({_duck_srp_key('v', planes[t])}) AS k{t}" for t in range(LSH_TABLES)
    )
    any_match = " OR ".join(f"q.k{t} = c.k{t}" for t in range(LSH_TABLES))
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    keys AS (
        SELECT vec_id, v,
           {key_cols}
        FROM e
    ),
    q AS (SELECT * FROM keys WHERE vec_id < 5),
    cand AS (
        SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
        FROM q JOIN keys c ON ({any_match})
        WHERE c.vec_id <> q.vec_id
    ),
    scored AS (
        SELECT cand.query_id, cand.neighbor_id,
               ROUND({_cos('qe.v', 'ce.v')}, 6) AS sim
        FROM cand
        JOIN e qe ON qe.vec_id = cand.query_id
        JOIN e ce ON ce.vec_id = cand.neighbor_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id, sim,
               CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rank
        FROM scored
    )
    SELECT query_id, neighbor_id, rank, sim FROM ranked WHERE rank <= 10
    """


@df_query("ann_lsh_topk", _lsh_oracle())
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRP-LSH bucketed ANN — candidate set is exactly reproducible in the
    oracle because the ±1 hyperplanes are seeded literals on both sides."""
    emb = table(spark, sf_dir, "embeddings")
    return S.lsh_topk(
        emb,
        emb.filter(F.col("vec_id") < 5),
        k=10,
        n_tables=LSH_TABLES,
        n_bits=LSH_BITS,
        dim=LSH_DIM,
        seed=LSH_SEED,
    )


# Shared oracle for the approximate top-k invariant entries: DuckDB computes
# the exact cosine top-1 per query with its own independent scan (a real
# hash-checked value) and asserts the recall invariant literally — the
# boolean is computed Spark-side as |approx ∩ exact-top10| >= threshold, so
# a broken candidate generator (recall collapses to ~nprobe/n_buckets or a
# random shortlist) flips it to FALSE and the driver row goes red.
_ANN_INVARIANT_ORACLE = f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
    scored AS (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               ROUND({_cos('q.qv', 'e.v')}, 6) AS sim
        FROM e, q WHERE e.vec_id <> q.query_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
        FROM scored
    )
    SELECT query_id, CAST(neighbor_id AS BIGINT) AS exact_top1, TRUE AS recall_ok
    FROM ranked WHERE rank = 1 ORDER BY query_id
    """


def _ann_recall_invariant(
    spark: SparkSession, sf_dir: str, approx: DataFrame, min_found: int
) -> DataFrame:
    """(query_id, exact_top1, recall_ok) for an approximate top-10 result:
    exact_top1 from a Spark brute-force ranking (hash-checked against the
    oracle's independent DuckDB scan), recall_ok = found-in-exact-top10 >=
    ``min_found``."""
    emb = table(spark, sf_dir, "embeddings")
    exact = S.brute_force_topk(emb, emb.filter(F.col("vec_id") < 5), k=10)
    top1 = exact.filter(F.col("rank") == 1).select(
        "query_id", F.col("neighbor_id").cast("bigint").alias("exact_top1")
    )
    hits = (
        exact.select("query_id", "neighbor_id")
        .join(approx.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count("*").alias("found"))
    )
    return (
        top1.join(hits, "query_id", "left")
        .select(
            "query_id",
            "exact_top1",
            (F.coalesce(F.col("found"), F.lit(0)) >= min_found).alias("recall_ok"),
        )
        .orderBy("query_id")
    )


@df_query("ann_ivf_topk", _ANN_INVARIANT_ORACLE)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (bucketed probe) under a recall invariant: nprobe=2 of 16
    k-means cells observes per-query recall 0.7-0.9 at this SF; the checked
    bound is >= 0.5, while a broken bucketing degenerates to ~nprobe/16."""
    emb = table(spark, sf_dir, "embeddings")
    approx = S.ivf_topk(emb, emb.filter(F.col("vec_id") < 5), k=10, nprobe=2)
    return _ann_recall_invariant(spark, sf_dir, approx, min_found=5)


# Probe set for the bounded embedding_dup_clusters oracle: exact duplicate
# EDGES are recomputed for the vec_id < _PROBE nodes against the whole
# corpus — O(_PROBE * n) cosines on both sides instead of the full corpus
# all-pairs + transitive walk that took hours at sf1 (judge round-8 task 2;
# same bounded-invariant shape as the ANN recall oracles above). An
# id-prefix INDUCED subgraph is vacuous here — the planted near-dup pairs
# span scattered ids (sf0.01 has zero pairs inside vec_id < 300) — so the
# probes' edges go corpus-wide.
_PROBE = 50


@df_query(
    "embedding_dup_clusters",
    f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    q AS (SELECT vec_id AS probe_id, v AS qv FROM e WHERE vec_id < {_PROBE}),
    edges AS (
        SELECT q.probe_id, e.vec_id AS neighbor_id
        FROM q, e
        WHERE e.vec_id <> q.probe_id
          AND ROUND({_cos('q.qv', 'e.v')}, 6) >= {COS_THRESH}
    )
    SELECT CAST(probe_id AS BIGINT) AS vec_id,
           CAST(COUNT(*) AS BIGINT) AS n_neighbors,
           CAST(MIN(neighbor_id) AS BIGINT) AS min_neighbor,
           CAST(MAX(neighbor_id) AS BIGINT) AS max_neighbor,
           TRUE AS in_output_ok,
           TRUE AS same_cluster_ok,
           TRUE AS size_ok
    FROM edges GROUP BY probe_id
    """,
)
def embedding_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters over embedding-cosine pairs — the same
    large-star/small-star resolver as dedup_clusters (pair-source-agnostic;
    operators/components.py) — under a BOUNDED invariant oracle.

    The full-corpus clustering runs as before; what the driver hash-checks,
    one row per probe node (vec_id < _PROBE) with at least one duplicate
    edge, is (a) that probe's exact corpus-wide neighbor count / min / max
    — hard value compares that verify the cosine + threshold pipeline
    against DuckDB's independent scan — and (b) three booleans tying the
    full clustering to those edges: ``in_output_ok`` (the probe appears in
    the cluster output), ``same_cluster_ok`` (every direct neighbor landed
    in the probe's cluster — a resolver that splits an edge flips this),
    and ``size_ok`` (cluster_size >= 1 + n_neighbors — the component
    contains the probe's closed neighborhood). A broken threshold, a
    dropped node, a split component, or a miscounted size flips a hard
    value or a boolean and the driver row goes red. Resolver exactness at
    full scale is separately evidenced by dedup_clusters (same resolver,
    exact oracle, sf1-green — SCALE.md).

    NOTE: constructing this DataFrame EXECUTES the guarded O(n^2) pair
    scan and the CC resolver (the eager _checkpoint calls below), so
    plan-inspection/dry-run tooling pays full execution up front; the
    eager checkpoints are what pin the quadratic scan to exactly one
    execution for the gate (sf1: 40+ min -> ~677s). Locally the shim uses
    localCheckpoint, which is non-replayable on executor loss —
    acceptable here because the checkpointed frames are small (edges +
    duplicate nodes) and the entry re-runs from source on failure; on a
    cluster set SPARK_GRAFT_CHECKPOINT_DIR to switch every site to
    reliable checkpoint() (qurious_spark/checkpoint.py).
    """
    from qurious_spark.operators.components import duplicate_clusters

    emb = S.with_double_vec(table(spark, sf_dir, "embeddings"))
    # The O(n^2) pair scan is the expensive term and this invariant query
    # references its descendants several times (cluster joins below) —
    # eagerly checkpoint the SMALL frames so the quadratic scan and the
    # CC resolver each execute exactly once: `pairs` holds only
    # above-threshold near-dup edges (proportional to duplicates, not the
    # corpus) and `full` only the duplicate nodes. Without this, Spark
    # recomputes the 400M-pair cross join per reference (observed: 40+ min
    # for this one entry at sf1 vs ~25s/entry for the rest of the gate).
    pairs = _checkpoint(
        S.cosine_pairs(emb, threshold=COS_THRESH, dim=64), eager=True
    )
    full = _checkpoint(duplicate_clusters(pairs), eager=True)
    norm = V.l2_norm_sql("embedding", 64)
    probes = emb.filter(F.col("vec_id") < _PROBE).selectExpr(
        "vec_id AS probe_id", "embedding AS qv", f"{norm} AS qn"
    )
    corpus = emb.selectExpr("vec_id AS neighbor_id", "embedding AS nv", f"{norm} AS nn")
    # probe side broadcast: O(_PROBE * n) map-side work, no shuffle of the
    # corpus — scales linearly with n at any corpus size
    edges = (
        corpus.crossJoin(F.broadcast(probes))
        .filter(F.col("neighbor_id") != F.col("probe_id"))
        .withColumn("sim", F.expr(S.hoisted_cosine_sql("qv", "nv", "qn", "nn", 64)))
        .filter(F.col("sim") >= COS_THRESH)
        .select("probe_id", "neighbor_id")
    )
    # referenced twice below (stats + per-edge cluster check); the edge
    # list is tiny — checkpoint so the O(probe*n) scan runs once
    edges = _checkpoint(edges, eager=True)
    stats = edges.groupBy("probe_id").agg(
        F.count("*").cast("bigint").alias("n_neighbors"),
        F.min("neighbor_id").cast("bigint").alias("min_neighbor"),
        F.max("neighbor_id").cast("bigint").alias("max_neighbor"),
    )
    clusters = full.select(
        F.col("node"), F.col("component"), F.col("cluster_size")
    )
    probe_cl = stats.join(
        clusters.withColumnRenamed("node", "probe_id"), "probe_id", "left"
    )
    neigh_bad = (
        edges.join(
            clusters.select(
                F.col("node").alias("neighbor_id"),
                F.col("component").alias("n_component"),
            ),
            "neighbor_id",
            "left",
        )
        .join(
            clusters.select(
                F.col("node").alias("probe_id"),
                F.col("component").alias("p_component"),
            ),
            "probe_id",
            "left",
        )
        .groupBy("probe_id")
        .agg(
            F.sum(
                (
                    F.col("n_component").isNull()
                    | ~(F.col("n_component") == F.col("p_component"))
                ).cast("int")
            ).alias("n_bad")
        )
    )
    return probe_cl.join(neigh_bad, "probe_id").select(
        F.col("probe_id").cast("bigint").alias("vec_id"),
        "n_neighbors",
        "min_neighbor",
        "max_neighbor",
        F.col("component").isNotNull().alias("in_output_ok"),
        (F.col("n_bad") == 0).alias("same_cluster_ok"),
        F.coalesce(
            F.col("cluster_size") >= F.col("n_neighbors") + 1, F.lit(False)
        ).alias("size_ok"),
    )


@df_query("ann_pq_topk", _ANN_INVARIANT_ORACLE)
def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ ADC shortlist + exact rerank under a recall invariant: observed
    per-query recall 0.6-0.9 at this SF (codebooks from distributed k-means,
    partition-order dependent — hence the boolean bound, not the raw ranks);
    checked bound >= 0.4, while a random 40-vector shortlist lands ~0.08.

    The ADC shortlist scales with the corpus (a fixed 4*k shortlist is
    top-2% of 2k vectors but top-0.2% of 20k — the sf1 gate caught recall
    dropping below the bound at 10x data). factor = max(4, n/500) keeps the
    shortlist at ~top-2% of any corpus while rerank cost stays ~n/500 * k
    exact cosines per query; at sf0.01 (the driver regime) it still
    resolves to 4, so gate behavior is unchanged."""
    emb = table(spark, sf_dir, "embeddings")
    n = emb.count()
    approx = S.pq_topk(
        emb,
        emb.filter(F.col("vec_id") < 5),
        k=10,
        n_subspaces=16,
        n_codes=16,
        shortlist_factor=max(4, n // 500),
    )
    return _ann_recall_invariant(spark, sf_dir, approx, min_found=4)


_QUANT_V = "list_transform(embedding, x -> CAST(x AS DOUBLE))"
_QUANT_SCALE = f"list_max(list_transform({_QUANT_V}, x -> abs(x))) / 127.0"


@df_query(
    "embedding_quantize",
    f"""
    WITH q AS (
        SELECT vec_id,
               {_QUANT_V} AS v,
               {_QUANT_SCALE} AS scale,
               CASE WHEN {_QUANT_SCALE} = 0 THEN 1.0 ELSE {_QUANT_SCALE} END AS safe
        FROM embeddings
    ),
    coded AS (
        SELECT vec_id, v, scale, safe,
               list_transform(v, x -> CAST(round(x / safe) AS INT)) AS codes
        FROM q
    )
    SELECT vec_id,
           ROUND(scale, 6) AS scale,
           CAST(list_min(codes) AS INT) AS code_min,
           CAST(list_max(codes) AS INT) AS code_max,
           CAST(list_sum(codes) AS BIGINT) AS code_sum,
           ROUND(list_sum(list_transform(list_zip(codes, v),
                 p -> (CAST(p[1] AS DOUBLE) * safe - p[2]) ** 2)) / len(v), 6) AS mse
    FROM coded
    """,
)
def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization (operators/quantize.py): per-vector
    scale, code range/sum and reconstruction MSE. Compacts the codes array
    to scalar invariants so the hash compare stays small while still
    pinning every code's value (sum + min + max over 64 dims)."""
    from qurious_spark.operators.quantize import quantize_int8

    emb = table(spark, sf_dir, "embeddings")
    out = quantize_int8(emb)
    return out.select(
        "vec_id",
        F.round("scale", 6).alias("scale"),
        F.array_min("codes").alias("code_min"),
        F.array_max("codes").alias("code_max"),
        F.expr("aggregate(codes, 0L, (a, x) -> a + x)").alias("code_sum"),
        F.round("mse", 6).alias("mse"),
    )


SEMDEDUP_K, SEMDEDUP_THRESH = 16, 0.40


@df_query(
    "embedding_semdedup",
    # Exactly-replicable configuration (iters=0): clusters are the 16
    # lowest-id seed vectors, assignment is argmax of ROUND(cos, 6) with
    # ties to the lowest bucket, and a vector is dropped iff a lower-id
    # same-cluster neighbor has ROUND(cos, 6) >= 0.4. Drops 11 of 500
    # vectors at sf0.01 — non-vacuous. Lloyd-refined clustering (iters>0,
    # engine-specific float averages) is covered by tests/test_clustering.py
    # invariants instead.
    f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    seeds AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS bucket, v AS cv
              FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT {{k}})),
    scored AS (SELECT e.vec_id, s.bucket, ROUND({_cos('e.v', 's.cv')}, 6) AS sim
               FROM e, seeds s),
    asg AS (SELECT vec_id, bucket FROM (
        SELECT vec_id, bucket,
               row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, bucket) AS rn
        FROM scored) WHERE rn = 1),
    pairs AS (
        SELECT a.vec_id AS ia, b.vec_id AS ib
        FROM asg a JOIN asg b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        JOIN e ea ON ea.vec_id = a.vec_id JOIN e eb ON eb.vec_id = b.vec_id
        WHERE ROUND({_cos('ea.v', 'eb.v')}, 6) >= {{t}})
    SELECT vec_id, bucket FROM asg WHERE vec_id NOT IN (SELECT DISTINCT ib FROM pairs)
    """.format(k=SEMDEDUP_K, t=SEMDEDUP_THRESH),
)
def embedding_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (arXiv:2303.09540) semantic near-duplicate removal: cluster
    the embeddings, pairwise cosine only WITHIN clusters, keep the lowest-id
    representative of every >=0.4 pair (operators/clustering.py). The
    cluster step bounds the quadratic pair term — the 100 TB path scales k
    with corpus size so per-cluster work stays flat."""
    from qurious_spark.operators.clustering import semantic_dedup

    emb = table(spark, sf_dir, "embeddings")
    return semantic_dedup(
        emb, n_clusters=SEMDEDUP_K, threshold=SEMDEDUP_THRESH, iters=0
    )
