"""Deduplication queries over ``documents``, each oracle-checked.

The DuckDB oracle replicates the operators in qurious_spark.operators.dedup
term-for-term: same normalization, same k=3 token shingles, same md5-derived
60-bit hash, same (a,b) minhash family, same LSH banding. Where the operator
is not reasonably SQL-expressible (Spark ML MinHashLSH with engine-private
hashing) the query is registered rows-only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from qurious_spark.operators import dedup as D
from qurious_spark.queries import df_query, register, table

THRESH = 0.5

# ---------------------------------------------------------------------------
# DuckDB SQL fragments replicating operators/dedup.py
# ---------------------------------------------------------------------------

_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"


def _duck_md5int(var: str) -> str:
    """bigint value of the first 15 hex digits of md5(var)."""
    terms = " + ".join(
        f"(strpos('0123456789abcdef', substr(md5({var}), {i + 1}, 1)) - 1) * {16 ** (14 - i)}"
        for i in range(15)
    )
    return f"({terms})"


_SHINGLES_CTE = f"""
sh AS (
    SELECT doc_id,
           list_distinct(
             CASE WHEN len(toks) >= 3
                  THEN list_transform(range(0, len(toks) - 2),
                                      i -> array_to_string(toks[i+1:i+3], ' '))
                  ELSE [array_to_string(toks, ' ')] END) AS shs
    FROM (SELECT doc_id, string_split({_NORM}, ' ') AS toks FROM documents)
)
"""


def _duck_sigs_cte() -> str:
    p = D.MINHASH_P
    sig_cols = ", ".join(
        f"list_min(list_transform(hs, h -> ({a} * h + {b}) % {p})) AS sig_{i}"
        for i, (a, b) in enumerate(D.HASH_PARAMS)
    )
    return f"""
{_SHINGLES_CTE},
base AS (
    SELECT doc_id, shs, list_transform(shs, s -> {_duck_md5int('s')} % {p}) AS hs
    FROM sh
),
sigs AS (SELECT doc_id, shs, {sig_cols} FROM base)
"""


def _duck_band_cond(a: str, b: str) -> str:
    bands = []
    for band in range(D.LSH_BANDS):
        cols = [f"sig_{band * D.LSH_ROWS + r}" for r in range(D.LSH_ROWS)]
        bands.append("(" + " AND ".join(f"{a}.{c} = {b}.{c}" for c in cols) + ")")
    return " OR ".join(bands)


# ---------------------------------------------------------------------------
# Queries
# ---------------------------------------------------------------------------


@df_query(
    "dedup_exact",
    f"""
    SELECT MIN(doc_id) AS doc_id, count(*) AS dup_count
    FROM (SELECT doc_id, md5({_NORM}) AS fp FROM documents)
    GROUP BY fp
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.exact_dedup(table(spark, sf_dir, "documents"))


@df_query(
    "dedup_prefix",
    f"""
    SELECT md5(array_to_string(toks[1:2], ' ')) AS prefix_fp,
           MIN(doc_id) AS doc_id,
           count(*) AS dup_count
    FROM (SELECT doc_id, string_split({_NORM}, ' ') AS toks FROM documents)
    GROUP BY 1
    """,
)
def dedup_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate-opening collapse (operators/dedup.py prefix_dedup):
    documents sharing the same normalized opening window group together.
    n_tokens=2 here so the synthetic corpus actually produces multi-doc
    groups (discriminating dup_counts); production default is 12."""
    return D.prefix_dedup(table(spark, sf_dir, "documents"), n_tokens=2)


@df_query(
    "dedup_ngram_jaccard",
    f"""
    WITH {_SHINGLES_CTE},
    ex AS (SELECT doc_id AS id, unnest(shs) AS s FROM sh),
    sizes AS (SELECT id, count(*) AS sz FROM ex GROUP BY id),
    common AS (
        SELECT a.id AS id_a, b.id AS id_b, count(*) AS common
        FROM ex a JOIN ex b ON a.s = b.s AND a.id < b.id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           ROUND(common / (sa.sz + sb.sz - common), 6) AS jaccard
    FROM common
    JOIN sizes sa ON sa.id = id_a
    JOIN sizes sb ON sb.id = id_b
    WHERE common / (sa.sz + sb.sz - common) >= {THRESH}
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.jaccard_pairs(table(spark, sf_dir, "documents"), threshold=THRESH)


@df_query(
    "dedup_minhash_signatures",
    f"""
    WITH {_duck_sigs_cte()}
    SELECT doc_id, {", ".join(f"sig_{i}" for i in range(D.NUM_HASHES))} FROM sigs
    """,
)
def dedup_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.minhash_signatures(table(spark, sf_dir, "documents"))


def _duck_pairs_ctes() -> str:
    """sigs + LSH candidates + verified-jaccard CTEs (shared by the pair
    query and the cluster-resolution queries)."""
    return f"""{_duck_sigs_cte()},
    cands AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM sigs a, sigs b
        WHERE a.doc_id < b.doc_id AND ({_duck_band_cond('a', 'b')})
    ),
    verif AS (
        SELECT id_a, id_b,
               ROUND(len(list_intersect(sa.shs, sb.shs))
                     / (len(sa.shs) + len(sb.shs) - len(list_intersect(sa.shs, sb.shs))), 6) AS jaccard
        FROM cands
        JOIN sh sa ON sa.doc_id = id_a
        JOIN sh sb ON sb.doc_id = id_b
    )"""


@df_query(
    "dedup_minhash_pairs",
    f"""
    WITH {_duck_pairs_ctes()}
    SELECT id_a, id_b, jaccard FROM verif WHERE jaccard >= {THRESH}
    """,
)
def dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.minhash_dedup_pairs(table(spark, sf_dir, "documents"), threshold=THRESH)


# --------------------------------------------------------------------------- #
# Cluster resolution: pairs -> connected components -> canonical docs.
# Spark side is alternating large-star/small-star (operators/components.py);
# the DuckDB oracle computes the same transitive closure with a recursive
# min-label walk (pruned: a label only propagates to larger node ids, which
# cannot drop the component minimum).
# --------------------------------------------------------------------------- #

_DUCK_CC_CTES = f"""
    edges AS (
        SELECT id_a AS u, id_b AS v FROM verif WHERE jaccard >= {THRESH}
        UNION
        SELECT id_b AS u, id_a AS v FROM verif WHERE jaccard >= {THRESH}
    ),
    walk(node, lbl) AS (
        SELECT u, u FROM edges
        UNION
        SELECT e.v, w.lbl FROM walk w JOIN edges e ON e.u = w.node
        WHERE w.lbl < e.v
    ),
    cc AS (SELECT node, MIN(lbl) AS cluster_id FROM walk GROUP BY node)"""


@df_query(
    "dedup_clusters",
    f"""
    WITH RECURSIVE {_duck_pairs_ctes()},
    {_DUCK_CC_CTES}
    SELECT cc.node AS doc_id, cc.cluster_id, sz.cluster_size
    FROM cc
    JOIN (SELECT cluster_id, COUNT(*) AS cluster_size FROM cc GROUP BY cluster_id) sz
      USING (cluster_id)
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from qurious_spark.operators.components import duplicate_clusters

    pairs = D.minhash_dedup_pairs(table(spark, sf_dir, "documents"), threshold=THRESH)
    return duplicate_clusters(pairs).select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("cluster_id"),
        "cluster_size",
    )


@df_query(
    "dedup_resolve",
    f"""
    WITH RECURSIVE {_duck_pairs_ctes()},
    {_DUCK_CC_CTES}
    SELECT COUNT(*) AS kept_docs, CAST(SUM(doc_id) AS BIGINT) AS kept_id_sum
    FROM documents
    WHERE doc_id NOT IN (SELECT node FROM cc WHERE node <> cluster_id)
    """,
)
def dedup_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from qurious_spark.operators.components import resolve_duplicates

    docs = table(spark, sf_dir, "documents")
    pairs = D.minhash_dedup_pairs(docs, threshold=THRESH)
    kept = resolve_duplicates(docs, pairs)
    return kept.agg(
        F.count("*").alias("kept_docs"),
        F.sum("doc_id").cast("bigint").alias("kept_id_sum"),
    )


def _duck_simhash() -> str:
    votes = []
    for j in range(32):
        votes.append(
            f"CASE WHEN list_sum(list_transform(hs, h -> CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END)) > 0 "
            f"THEN CAST({1 << j} AS BIGINT) ELSE 0 END"
        )
    fp = " + ".join(votes)
    return f"""
    WITH {_SHINGLES_CTE},
    base AS (SELECT doc_id, list_transform(shs, s -> {_duck_md5int('s')}) AS hs FROM sh)
    SELECT doc_id, CAST({fp} AS BIGINT) AS simhash FROM base
    """


register(
    "dedup_simhash_fingerprints",
    lambda spark, sf_dir: D.simhash_fingerprints(table(spark, sf_dir, "documents")),
    _duck_simhash(),
)


def _duck_simhash_pairs() -> str:
    return f"""
    WITH fp AS ({_duck_simhash()})
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM fp a, fp b
    WHERE a.doc_id < b.doc_id AND bit_count(xor(a.simhash, b.simhash)) <= 3
    """


register(
    "dedup_simhash_pairs",
    lambda spark, sf_dir: D.simhash_near_pairs(table(spark, sf_dir, "documents"))
    .withColumn("hamming", __import__("pyspark.sql.functions", fromlist=["col"]).col("hamming").cast("bigint")),
    _duck_simhash_pairs(),
)


@df_query(
    "dedup_minhash_ml",
    # The oracle computes the EXACT >=0.5 Jaccard pair count with its own
    # inverted-index join (independent of any MinHash machinery) and asserts
    # the recall invariant literally; the boolean is computed Spark-side.
    f"""
    WITH {_SHINGLES_CTE},
    ex AS (SELECT doc_id AS id, unnest(shs) AS s FROM sh),
    sizes AS (SELECT id, count(*) AS sz FROM ex GROUP BY id),
    common AS (
        SELECT a.id AS id_a, b.id AS id_b, count(*) AS common
        FROM ex a JOIN ex b ON a.s = b.s AND a.id < b.id
        GROUP BY 1, 2
    )
    SELECT CAST(count(*) AS BIGINT) AS true_pairs, TRUE AS recall_ok
    FROM common
    JOIN sizes sa ON sa.id = id_a
    JOIN sizes sb ON sb.id = id_b
    WHERE common / (sa.sz + sb.sz - common) >= {THRESH}
    """,
)
def dedup_minhash_ml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark ML MinHashLSH (engine-private hashing — its jaccard_est values
    are not oracle-replicable) checked via an invariant instead of raw rows:
    ``true_pairs`` = exact >=0.5 Jaccard pair count (hash-checked against the
    oracle's independent DuckDB computation) and ``recall_ok`` = the ML
    candidate set recovered >= 80% of those true pairs (observed recall 1.0
    at this SF; a broken LSH banding collapses toward 0)."""
    from pyspark.sql import functions as F

    docs = table(spark, sf_dir, "documents")
    exact = D.jaccard_pairs(docs, threshold=THRESH).select("id_a", "id_b")
    ml = D.minhash_lsh_ml(docs).select("id_a", "id_b")
    # keep the whole computation one lazy plan (1-row aggregates crossed)
    # so the plan audit sees the real MLlib + exact-verify joins instead of
    # a pre-collected local relation
    found = exact.join(ml, ["id_a", "id_b"]).agg(F.count("*").alias("__found"))
    total = exact.agg(F.count("*").alias("__total"))
    return total.crossJoin(found).select(
        F.col("__total").cast("bigint").alias("true_pairs"),
        (F.col("__found") >= 0.8 * F.col("__total")).alias("recall_ok"),
    )


_DOC_STREAM_STAGE: dict[tuple[int, str], tuple[str, StructType]] = {}
_DOC_STREAM_RUNS = __import__("itertools").count()


def doc_stream_stage(spark: SparkSession, sf_dir: str) -> tuple[str, StructType]:
    """The documents table written once per (session, sf_dir) as a 4-file
    parquet directory for the file stream to read, with its schema: the
    schema of the frame that was written, so no build infers it again."""
    import os
    import tempfile

    from qurious_spark.sources.readers import read_parquet

    key = (id(spark), sf_dir)
    if key not in _DOC_STREAM_STAGE:
        d = os.path.join(tempfile.mkdtemp(prefix="qurious_docstream_"), "documents")
        docs = read_parquet(spark, os.path.join(sf_dir, "documents.parquet"))
        docs.repartition(4).write.mode("overwrite").parquet(d)
        _DOC_STREAM_STAGE[key] = (d, docs.schema)
    return _DOC_STREAM_STAGE[key]


@df_query(
    "dedup_stream_exact",
    f"""
    SELECT DISTINCT md5({_NORM}) AS fp FROM documents
    """,
)
def dedup_stream_exact(spark, sf_dir):
    """Streaming exact dedup on the hard signal: documents arrive as a file
    stream, streaming/dedup.stream_dedup_exact drops repeats by the md5
    fingerprint (append mode, availableNow drain), and the surviving
    fingerprint SET — deterministic even though dropDuplicates keeps an
    arbitrary row per key — must equal the batch SELECT DISTINCT oracle."""
    from qurious_spark.functions.text import fingerprint
    from qurious_spark.streaming import run_to_memory
    from qurious_spark.streaming.dedup import stream_dedup_exact

    d, schema = doc_stream_stage(spark, sf_dir)
    stream = spark.readStream.schema(schema).parquet(d)
    name = f"q_stream_dedup_{next(_DOC_STREAM_RUNS)}"
    kept = stream_dedup_exact(stream)
    result = run_to_memory(
        kept.selectExpr(f"{fingerprint('`text`')} AS fp"),
        name,
        output_mode="append",
    )
    return result


@df_query(
    "dedup_incremental",
    # Exact replica of the incremental path: same sigs/banding CTEs, corpus =
    # lower half of doc ids (the "already-indexed" set), new = upper half.
    f"""
    WITH {_duck_sigs_cte()},
    c AS (SELECT * FROM sigs WHERE doc_id * 2 <= (SELECT MAX(doc_id) FROM documents)),
    n AS (SELECT * FROM sigs WHERE doc_id * 2 > (SELECT MAX(doc_id) FROM documents)),
    cand AS (
      SELECT n.doc_id AS new_id, c.doc_id AS dup_of, n.shs AS shs_n, c.shs AS shs_d,
             'corpus' AS origin
      FROM n JOIN c ON ({_duck_band_cond('n', 'c')})
      UNION ALL
      SELECT b.doc_id, a.doc_id, b.shs, a.shs, 'batch'
      FROM n a JOIN n b ON a.doc_id < b.doc_id AND ({_duck_band_cond('a', 'b')})
    )
    SELECT new_id, dup_of, jaccard, origin FROM (
      SELECT new_id, dup_of, origin,
             ROUND(CAST(len(list_intersect(shs_n, shs_d)) AS DOUBLE)
                   / (len(shs_n) + len(shs_d) - len(list_intersect(shs_n, shs_d))), 6)
               AS jaccard
      FROM cand)
    WHERE jaccard >= {THRESH}
    """,
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup detection (operators/dedup.py
    incremental_near_dups): the don't-re-mine-the-corpus path — the indexed
    half's signatures act as the stored band index, only the new half is
    shingled up front, and corpus text is re-shingled ONLY for candidate
    rows (semi-join before the regex work). 13 corpus-dups + 8 batch-dups
    at sf0.01 — both origins exercised."""
    docs = table(spark, sf_dir, "documents")

    def half(op: str) -> DataFrame:
        # the max doc id as a scalar subquery: the split stays in the plan
        return spark.sql(
            f"SELECT * FROM {{docs}} WHERE doc_id * 2 {op} (SELECT max(doc_id) FROM {{docs}})",
            docs=docs,
        )

    return D.incremental_near_dups(half(">"), half("<="), threshold=THRESH)
