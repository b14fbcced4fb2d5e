"""End-to-end training-data pipeline over ``documents`` (oracle-checked).

The north-star composition: language filter → quality gate → exact dedup →
token counting → deterministic stratified sampling, each stage one of this
engine's operators. Every stage is deterministic and engine-neutral
(md5-based fingerprints and sample slots), so the ENTIRE pipeline
hash-matches a DuckDB oracle end to end.

Scale shape: the narrow feature pass computes fingerprint/tokens/quality in
one projection (codegen); dedup shuffles on the 32-hex fingerprint (uniform
keys — no skew); sampling's top-k-per-stratum shuffles once on the handful
of language strata after the data has already been cut down by
filter + dedup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from qurious_spark.functions import text as T
from qurious_spark.operators import sampling as SA
from qurious_spark.queries import df_query, table
from qurious_spark.queries.dedup import _duck_md5int
from qurious_spark.queries.text import _NORM, _TEXT, _TOKS

LANGS = ("en", "de", "fr")
K_PER_LANG = 10
MIN_QUALITY = 0.5

_SLOT = f"{_duck_md5int('CAST(doc_id AS VARCHAR)')} % {SA.HASH_M}"


def _oracle() -> str:
    langs = ", ".join(f"'{lang}'" for lang in LANGS)
    return f"""
    WITH feat AS (
        SELECT doc_id, lang,
               md5({_NORM}) AS fp,
               CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
               len({_TOKS}) AS n_tok,
               CASE WHEN length(text) > 0
                    THEN (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))) / length(text)
                    ELSE 0.0 END AS punct_r,
               CASE WHEN length(text) > 0
                    THEN (length(text) - length(regexp_replace(text, '[A-Z]', '', 'g'))) / length(text)
                    ELSE 0.0 END AS upper_r
        FROM documents
    ),
    scored AS (
        SELECT doc_id, lang, fp, n_tokens,
               ROUND((LEAST(n_tok / 100.0, 1.0)
                    + (1.0 - LEAST(punct_r * 4.0, 1.0))
                    + (1.0 - LEAST(upper_r * 4.0, 1.0))) / 3.0, 6) AS quality
        FROM feat
    ),
    filtered AS (
        SELECT * FROM scored WHERE lang IN ({langs}) AND quality >= {MIN_QUALITY}
    ),
    deduped AS (
        SELECT doc_id, lang, n_tokens, quality FROM (
            SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
            FROM filtered
        ) WHERE rn = 1
    ),
    sampled AS (
        SELECT doc_id, lang, n_tokens, quality FROM (
            SELECT *, row_number() OVER (
                PARTITION BY lang ORDER BY ({_SLOT}), doc_id
            ) AS rn2 FROM deduped
        ) WHERE rn2 <= {K_PER_LANG}
    )
    SELECT doc_id, lang, n_tokens, quality FROM sampled ORDER BY lang, doc_id
    """


@df_query("pipeline_training_data", _oracle())
def pipeline_training_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language filter → quality gate → exact dedup → stratified sample,
    composed from functions/text.py + operators/sampling.py."""
    docs = table(spark, sf_dir, "documents")
    feat = docs.selectExpr(
        "doc_id",
        "lang",
        f"{T.fingerprint(_TEXT)} AS fp",
        f"{T.token_count(_TEXT)} AS n_tokens",
        f"{T.quality_score(_TEXT)} AS quality",
    )
    filtered = feat.filter(
        F.col("lang").isin(*LANGS) & (F.col("quality") >= MIN_QUALITY)
    )
    w = Window.partitionBy("fp").orderBy("doc_id")
    deduped = (
        filtered.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "fp")
    )
    sampled = SA.stratified_topk_exact(deduped, "lang", "doc_id", K_PER_LANG)
    return sampled.select("doc_id", "lang", "n_tokens", "quality").orderBy(
        "lang", "doc_id"
    )


CTX_LEN = 2048


@df_query(
    "pipeline_pack_bins",
    f"""
    WITH t AS (
        SELECT doc_id,
               CAST(len({_TOKS}) AS BIGINT) AS tok,
               {_SLOT} AS slot
        FROM documents
    ),
    c AS (
        SELECT doc_id, tok,
               SUM(tok) OVER (ORDER BY slot, doc_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM t
    )
    SELECT CAST(FLOOR((cum - tok) / {CTX_LEN}.0) AS BIGINT) AS bin_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(tok) AS BIGINT) AS bin_tokens,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc
    FROM c
    GROUP BY 1 ORDER BY 1
    """,
)
def pipeline_pack_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing into {CTX_LEN}-token bins via the two-phase
    distributed prefix sum (operators/packing.py) — the oracle states the
    same cumsum as ONE global window, proving the distributed decomposition
    is exact."""
    from qurious_spark.operators.packing import pack_documents

    docs = table(spark, sf_dir, "documents").selectExpr(
        "doc_id", f"{T.token_count(_TEXT)} AS tok"
    )
    packed = pack_documents(docs, "tok", ctx_len=CTX_LEN)
    return (
        packed.groupBy("bin_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("tok").alias("bin_tokens"),
            F.min("doc_id").cast("bigint").alias("first_doc"),
        )
        .orderBy("bin_id")
    )


MIX_WEIGHTS = (("en", 0.6), ("de", 0.25), ("fr", 0.15))
MIX_TARGET = 60


def _mix_oracle() -> str:
    total_w = sum(w for _, w in MIX_WEIGHTS)
    parts = []
    for i, (lang, w) in enumerate(MIX_WEIGHTS):
        quota = MIX_TARGET * w / total_w
        mix_key = _duck_md5int(f"'{i}' || '#' || CAST(doc_id AS VARCHAR)")
        parts.append(f"""
        SELECT doc_id, lang, CAST({i} AS BIGINT) AS src,
               ({mix_key}) % {SA.HASH_M} AS mix_slot
        FROM documents
        WHERE lang = '{lang}'
          AND ({_SLOT}) < LEAST({SA.HASH_M},
              CEIL({SA.HASH_M} * {quota!r} / (SELECT COUNT(*) FROM documents WHERE lang = '{lang}')))
        """)
    union = " UNION ALL ".join(parts)
    return f"SELECT * FROM ({union}) ORDER BY mix_slot, src, doc_id"


@df_query("pipeline_mix_corpora", _mix_oracle())
def pipeline_mix_corpora(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted deterministic mixture of three language corpora
    (operators/mixing.py): per-source hash-threshold sampling at the
    weight-implied rate + md5 interleave order, reproduced exactly by the
    oracle."""
    from qurious_spark.operators.mixing import mix_corpora

    docs = table(spark, sf_dir, "documents")
    sources = [
        (docs.filter(F.col("lang") == lang), w) for lang, w in MIX_WEIGHTS
    ]
    return mix_corpora(
        sources, "doc_id", MIX_TARGET, keep_cols=["doc_id", "lang"]
    ).orderBy("mix_slot", "src", "doc_id")


DECON_N = 13


@df_query(
    "pipeline_decontaminate",
    f"""
    WITH toks AS (
        SELECT doc_id, string_split({_NORM}, ' ') AS t FROM documents
    ),
    grams AS (
        SELECT doc_id,
               unnest(CASE WHEN len(t) >= {DECON_N}
                 THEN list_distinct(list_transform(range(1, len(t) - {DECON_N} + 2),
                                    i -> array_to_string(t[i:i+{DECON_N}-1], ' ')))
                 ELSE [array_to_string(t, ' ')] END) AS g
        FROM toks
    ),
    ev AS (SELECT DISTINCT g FROM grams WHERE doc_id % 17 = 0)
    SELECT doc_id, CAST(COUNT(DISTINCT g) AS BIGINT) AS n_hit_grams
    FROM grams
    WHERE doc_id % 17 <> 0 AND g IN (SELECT g FROM ev)
    GROUP BY doc_id
    """,
)
def pipeline_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators/dedup.decontaminate): flag
    training docs sharing any {DECON_N}-token shingle with a held-out eval
    split (docs with doc_id % 17 == 0 stand in for the benchmark corpus).
    The eval shingle set is broadcast, so the 100-TB train side is probed
    map-side with no shuffle; the oracle restates the overlap with string
    shingles (engine side hashes them — md5_int, engine-neutral)."""
    from qurious_spark.operators.dedup import decontaminate

    docs = table(spark, sf_dir, "documents")
    ev = docs.filter(F.col("doc_id") % 17 == 0)
    train = docs.filter(F.col("doc_id") % 17 != 0)
    _, contaminated = decontaminate(train, ev, n=DECON_N)
    return contaminated


def _profile_oracle_one(col: str, numeric: bool) -> str:
    stats = (
        f"ROUND(CAST(MIN({col}) AS DOUBLE), 6) AS min_v, "
        f"ROUND(CAST(MAX({col}) AS DOUBLE), 6) AS max_v, "
        f"ROUND(CAST(AVG({col}) AS DOUBLE), 6) AS avg_v"
        if numeric
        else "CAST(NULL AS DOUBLE) AS min_v, CAST(NULL AS DOUBLE) AS max_v, "
        "CAST(NULL AS DOUBLE) AS avg_v"
    )
    return f"""
    SELECT '{col}' AS col_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN {col} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           CAST(COUNT(DISTINCT {col}) AS BIGINT) AS n_distinct,
           {stats}
    FROM documents
    """


@df_query(
    "pipeline_profile",
    " UNION ALL ".join(
        [
            _profile_oracle_one("doc_id", True),
            _profile_oracle_one("n_chars", True),
            _profile_oracle_one("lang", False),
            _profile_oracle_one("source", False),
        ]
    ),
)
def pipeline_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass column profiling (operators/profile.py): every column's
    null count, cardinality, and numeric range/mean from ONE scan + one
    aggregation, unpivoted to long format. The oracle restates each
    column's stats as a separate aggregate query."""
    from qurious_spark.operators.profile import profile

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars", "lang", "source"
    )
    p = profile(docs)
    return p.select(
        "col_name",
        "n_rows",
        "n_nulls",
        "n_distinct",
        F.round("min_v", 6).alias("min_v"),
        F.round("max_v", 6).alias("max_v"),
        F.round("avg_v", 6).alias("avg_v"),
    )


def _split_oracle() -> str:
    from qurious_spark.operators.splitting import split_assignment_sql

    case = split_assignment_sql("doc_id")
    return f"""
    SELECT {case} AS split,
           source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len({_TOKS})) AS BIGINT) AS total_tokens
    FROM documents
    GROUP BY 1, 2
    """


@df_query("pipeline_split_train", _split_oracle())
def pipeline_split_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (operators/splitting.py):
    md5-threshold split keyed on doc_id — stable across runs, engines and
    repartitioning (rand()-based splits are none of those). Reports per
    (split, source) doc and token counts; a wrong threshold or a
    non-content-stable hash shifts the counts and hash-mismatches."""
    from qurious_spark.operators.splitting import assign_split

    docs = table(spark, sf_dir, "documents")
    return (
        assign_split(docs, "doc_id")
        .groupBy("split", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.expr(f"CAST(sum({T.token_count(_TEXT)}) AS BIGINT) AS total_tokens"),
        )
    )


def _shard_oracle(n_shards: int = 16) -> str:
    # 8-hex-digit md5 prefix as an integer, digit-expanded the same way as
    # _duck_md5int (DuckDB has no conv()); then mod n_shards
    terms = " + ".join(
        f"(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), {i + 1}, 1)) - 1) * {16 ** (7 - i)}"
        for i in range(8)
    )
    return f"""
    SELECT CAST(({terms}) % {n_shards} AS INT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(doc_id) AS BIGINT) AS id_sum
    FROM documents
    GROUP BY 1
    """


@df_query("pipeline_shard_counts", _shard_oracle())
def pipeline_shard_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-stable shard assignment (sources/sharding.py): md5-prefix
    mod n_shards. Per-shard doc counts + id checksum pin every document's
    shard; a drifted hash or mod moves ids between shards and breaks the
    id_sum hash-match."""
    from qurious_spark.sources.sharding import with_shard_id

    docs = table(spark, sf_dir, "documents")
    return (
        with_shard_id(docs, "doc_id", 16)
        .groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("doc_id").cast("bigint").alias("id_sum"),
        )
    )


@df_query(
    "pipeline_quality_checks",
    # The oracle recomputes each metric independently with plain SQL. The
    # range check is deliberately FAILING (metric ~0.197, passed=false) so a
    # validator that rubber-stamps everything cannot hash-match.
    """
    SELECT 'completeness' AS check, 'o_orderdate' AS target,
           ROUND(CAST(COUNT(o_orderdate) AS DOUBLE) / COUNT(*), 6) AS metric,
           CAST(1.0 AS DOUBLE) AS threshold,
           COUNT(o_orderdate) = COUNT(*) AS passed
    FROM orders
    UNION ALL
    SELECT 'unique', 'o_orderkey',
           ROUND(CAST(COUNT(DISTINCT o_orderkey) AS DOUBLE) / COUNT(o_orderkey), 6),
           CAST(1.0 AS DOUBLE), COUNT(DISTINCT o_orderkey) = COUNT(o_orderkey)
    FROM orders
    UNION ALL
    SELECT 'range', 'o_totalprice',
           ROUND(CAST(SUM(CASE WHEN o_totalprice BETWEEN 0 AND 100000 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(o_totalprice), 6),
           CAST(1.0 AS DOUBLE),
           SUM(CASE WHEN o_totalprice BETWEEN 0 AND 100000 THEN 1 ELSE 0 END)
             = COUNT(o_totalprice)
    FROM orders
    UNION ALL
    SELECT 'foreign_key', 'o_custkey',
           ROUND(CAST((SELECT COUNT(*) FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey) AS DOUBLE)
                 / (SELECT COUNT(o_custkey) FROM orders), 6),
           CAST(1.0 AS DOUBLE),
           (SELECT COUNT(*) FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
            WHERE c.c_custkey IS NULL AND o.o_custkey IS NOT NULL) = 0
    """,
)
def pipeline_quality_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style data-quality gate (operators/quality.py): completeness,
    uniqueness, value-range and referential-integrity checks — every
    metric from ONE aggregation over ONE scan, FK integrity via a left join
    to the distinct customer keys, all in one lazy plan. The range check
    intentionally fails on this data (orders above 100k exist) so the
    validator's fail path is hash-verified, not just its rubber stamp."""
    from qurious_spark.operators.quality import quality_report

    orders = table(spark, sf_dir, "orders")
    customer = table(spark, sf_dir, "customer")
    return quality_report(
        orders,
        completeness={"o_orderdate": 1.0},
        unique=["o_orderkey"],
        ranges={"o_totalprice": (0.0, 100000.0)},
        foreign_keys=[("o_custkey", customer, "c_custkey")],
    )


@df_query(
    "pipeline_psi_drift",
    # Oracle replicates the fixed-edge bucketing and the PSI formula; the
    # split (pre-1998 vs 1998+) gives genuinely different totalprice mixes
    # so per-bucket contributions are non-trivial. epsilon floors empty
    # buckets exactly as the operator does.
    """
    WITH ref AS (SELECT o_totalprice AS v FROM orders WHERE EXTRACT(YEAR FROM o_orderdate) < 1998),
    cur AS (SELECT o_totalprice AS v FROM orders WHERE EXTRACT(YEAR FROM o_orderdate) >= 1998),
    rb AS (
      SELECT CASE WHEN v < 50000 THEN 0 WHEN v < 100000 THEN 1
                  WHEN v < 200000 THEN 2 WHEN v < 300000 THEN 3 ELSE 4 END AS bucket,
             CAST(COUNT(*) AS DOUBLE) / (SELECT COUNT(*) FROM ref WHERE v IS NOT NULL) AS ref_frac
      FROM ref WHERE v IS NOT NULL GROUP BY 1
    ),
    cb AS (
      SELECT CASE WHEN v < 50000 THEN 0 WHEN v < 100000 THEN 1
                  WHEN v < 200000 THEN 2 WHEN v < 300000 THEN 3 ELSE 4 END AS bucket,
             CAST(COUNT(*) AS DOUBLE) / (SELECT COUNT(*) FROM cur WHERE v IS NOT NULL) AS cur_frac
      FROM cur WHERE v IS NOT NULL GROUP BY 1
    ),
    per AS (
      SELECT COALESCE(rb.bucket, cb.bucket) AS bucket,
             COALESCE(ref_frac, 0.0) AS ref_frac,
             COALESCE(cur_frac, 0.0) AS cur_frac
      FROM rb FULL JOIN cb ON rb.bucket = cb.bucket
    ),
    scored AS (
      SELECT bucket, ref_frac, cur_frac,
             (cur_frac - ref_frac) * ln((cur_frac + 0.000001) / (ref_frac + 0.000001)) AS psi
      FROM per
    )
    SELECT CAST(bucket AS INT) AS bucket, ROUND(ref_frac, 6) AS ref_frac,
           ROUND(cur_frac, 6) AS cur_frac, ROUND(psi, 6) AS psi
    FROM scored
    UNION ALL
    SELECT -1, ROUND(SUM(ref_frac), 6), ROUND(SUM(cur_frac), 6), ROUND(SUM(psi), 6)
    FROM scored
    """,
)
def pipeline_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between two generations of orders
    (operators/drift.py): fixed bucket edges so runs stay comparable, one
    CASE-bucketed aggregation per side, bucket -1 = total PSI. The standard
    model/data-monitoring statistic for recurring ingestion."""
    from qurious_spark.operators.drift import psi

    orders = table(spark, sf_dir, "orders")
    yr = F.year("o_orderdate")
    out = psi(
        orders.filter(yr < 1998),
        orders.filter(yr >= 1998),
        "o_totalprice",
        edges=[50000.0, 100000.0, 200000.0, 300000.0],
    )
    return out.select(
        F.col("bucket").cast("int").alias("bucket"),
        F.round("ref_frac", 6).alias("ref_frac"),
        F.round("cur_frac", 6).alias("cur_frac"),
        F.round("psi", 6).alias("psi"),
    )
