"""Deduplication operators for large-scale corpus pipelines.

Five families, each designed Spark-first for 100 TB:

- **exact**: hash-groupBy on normalized text (one shuffle on a short digest).
- **n-gram Jaccard**: token-shingle sets, exact pairwise similarity via a
  shingle-inverted-index self-join (shuffle on shingle; hot shingles can be
  dropped via ``max_shingle_freq`` — standard prefix-filtering trade-off).
- **MinHash + LSH**: signatures via explode + one codegen'd aggregate of 16
  MINs (map-side combine → the shuffle carries only id + 16 bigints);
  banding then buckets candidates with equi-joins on band keys.
- **SimHash**: 32-bit fingerprints via the same explode+aggregate shape
  (32 per-bit vote SUMs); near-dup = small Hamming distance, paired through
  8-bit chunk buckets (pigeonhole) instead of a cross join.
- **embedding cosine**: see qurious_spark.operators.vector.

All hash arithmetic is md5-based and replicated exactly by the DuckDB oracle
(see queries/dedup.py); no engine-private hash functions in checked paths.
``pyspark.ml.feature.MinHashLSH`` is exposed separately as ``minhash_lsh_ml``
(the scale path with Spark-native hashing; rows-only check).

The reference engine has no dedup surface (it is a pure SQL engine); these
operators are the beyond-reference scope required for training-data work.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from qurious_spark.functions import text as T
from qurious_spark.plans.inspect import plan_bytes

# MinHash parameters — shared with the DuckDB oracle generator.
MINHASH_P = 2_147_483_647  # 2^31 - 1 (Mersenne prime)
NUM_HASHES = 16
LSH_BANDS = 4
LSH_ROWS = NUM_HASHES // LSH_BANDS


def _hash_params() -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the affine minhash family."""
    return [
        ((i * 2_654_435_761 + 105_943) % MINHASH_P, (i * 40_503 + 7) % MINHASH_P)
        for i in range(NUM_HASHES)
    ]


HASH_PARAMS = _hash_params()


def shingles(col_sql: str, k: int = 3) -> str:
    """Distinct k-token shingles (array<string>) as SQL text; whole-document
    shingle for texts shorter than k tokens. Pure array expressions — no
    explode; the windows are functions/text.py ``k_windows`` (O(n·k) per
    document, see there). ``col_sql`` is the source column as a SQL
    fragment (callers pass the backtick-quoted column name)."""
    toks = T.tokens(col_sql)
    return (
        f"array_distinct(CASE WHEN size({toks}) >= {k} THEN {T.k_windows(toks, k)} "
        f"ELSE array(array_join({toks}, ' ')) END)"
    )


_SPREAD_PROBE_CACHE: dict[tuple[int, int], tuple[int, int]] = {}

# Local floor for bytes of input per spread partition. At 64 KiB the sf0.1
# documents table (0.6 MB) spreads ~9 ways, capped at defaultParallelism.
# Measured on a 4-vCPU host (local[3], sf0.1, median of 5 interleaved runs,
# spread against the identity): text_duplicate_spans 6.28 s vs 14.57 s,
# text_winnow_overlap 3.13 s vs 5.38 s, dedup_minhash_pairs 1.24 s vs
# 1.98 s, dedup_simhash_pairs 1.93 s vs 2.28 s, text_pii_redact 0.44 s vs
# 0.85 s; light entries are flat (text_quality 0.33 s vs 0.38 s,
# dedup_exact 0.41 s vs 0.38 s). Any real corpus is orders of magnitude
# past the floor, where the target saturates at the session's parallelism
# and, on a cluster whose scan is already wide, spread stays a no-op. Never
# a semantics input (the partitioning-independence gate runs the registry
# at perturbed widths).
SPREAD_PARTITION_BYTES = 1 << 16


def spread(df: DataFrame) -> DataFrame:
    """Repartition up to the session's parallelism when the input arrives in
    fewer partitions. Small local files scan as 1-2 partitions, which would
    serialize the CPU-heavy shingling/hashing stages onto one core; on a real
    cluster a 100 TB input is already wide and this is a no-op. The target
    width is size-aware: ceil(input bytes / SPREAD_PARTITION_BYTES) capped at
    defaultParallelism, so tiny inputs don't fan out into mostly-empty tasks.

    ``df.rdd.getNumPartitions()`` runs on the driver and reads no rows of
    ``df`` itself, but it plans ``df`` physically: when that plan holds a
    subquery or an AQE exchange, the probe runs them as Spark jobs
    (``dedup_incremental``'s first build in a session starts 4 jobs, all
    from its two probes; a plain scan starts none). It must stay out of
    per-row/hot paths (materializing ``df.rdd`` in an executor path would
    bypass whole-stage codegen); tests/test_conventions.py pins this as the
    package's only ``.rdd`` access.

    The (partition count, size estimate) probe is memoized per (session,
    semantically-equal plan), so later builds over the same input start no
    job and skip the RDD conversion; a stale hit can only mis-size the
    repartition target (parallelism, never results — the
    partitioning-independence gate pins that), and only for a plan whose
    underlying files changed within one session."""
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    key = (id(spark), df.semanticHash())
    probe = _SPREAD_PROBE_CACHE.get(key)
    if probe is None:
        nparts = df.rdd.getNumPartitions()
        # Catalyst's own size estimate (file-size total for scans; works on
        # any filesystem, no data read). Upper bound is fine: over-estimates
        # only push the target toward full parallelism.
        probe = (nparts, plan_bytes(df))
        _SPREAD_PROBE_CACHE[key] = probe
    nparts, size = probe
    target = min(par, max(1, -(-size // SPREAD_PARTITION_BYTES)))
    if nparts < target:
        return df.repartition(target)
    return df


# --------------------------------------------------------------------------- #
# Pipeline operators (DataFrame -> DataFrame)
# --------------------------------------------------------------------------- #


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id document per exact normalized text. Shuffles on the
    md5 digest (fixed 32 bytes/row), not the full text — at 100 TB the
    shuffle payload is ids + digests only."""
    return (
        spread(df).selectExpr(f"`{id_col}`", f"{T.fingerprint(f'`{text_col}`')} AS __fp")
        .groupBy("__fp")
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("dup_count"))
        .drop("__fp")
    )


def prefix_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_tokens: int = 12,
) -> DataFrame:
    """Near-dup collapse on the first ``n_tokens`` normalized tokens.

    Crawled corpora are full of documents that share a boilerplate opening
    (mirrors, template pages, truncated re-crawls); exact dedup misses them
    because the tails differ. Grouping on a digest of the opening window is
    the cheap first-pass filter before MinHash: like :func:`exact_dedup` the
    shuffle carries (id, 32-byte digest) only — the prefix slice and md5 are
    map-side JVM expressions, so the pass stays scan-bound at 100 TB.

    Returns one row per prefix group: keeper id (lowest), ``dup_count``,
    and the prefix digest for joining back.
    """
    prefix = f"concat_ws(' ', slice({T.tokens(f'`{text_col}`')}, 1, {n_tokens}))"
    return (
        spread(df)
        .selectExpr(f"`{id_col}`", f"md5({prefix}) AS prefix_fp")
        .groupBy("prefix_fp")
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("dup_count"))
    )


def decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 13,
    broadcast_eval: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Benchmark decontamination: drop training docs sharing any n-token
    shingle with the eval corpus (the standard LLM-pipeline 13-gram rule).

    Returns (clean_train, contaminated) where ``contaminated`` is
    (id_col, n_hit_grams) — the distinct overlapping shingle count per
    flagged doc.

    Scale shape: eval/benchmark corpora are tiny next to 100 TB of training
    text, so the eval shingle set broadcasts (``broadcast_eval=True``) and
    the train side stays a narrow (id, 60-bit hash) projection probed
    map-side — no shuffle of training data at all. Set
    ``broadcast_eval=False`` for a giant eval side to fall back to a hash
    equi-join. Shingle hashing uses md5_int (engine-neutral, shared with
    the DuckDB oracle).
    """
    grams = f"explode({shingles(f'`{text_col}`', n)}) AS __g"
    gram_hash = f"{T.md5_int('__g')} AS __gh"
    tr = spread(train).selectExpr(f"`{id_col}`", grams).selectExpr(f"`{id_col}`", gram_hash)
    ev = eval_df.selectExpr(grams).selectExpr(gram_hash).distinct()
    if broadcast_eval:
        ev = F.broadcast(ev)
    contaminated = (
        tr.join(ev, "__gh")
        .groupBy(id_col)
        .agg(F.count_distinct("__gh").cast("bigint").alias("n_hit_grams"))
    )
    clean = train.join(contaminated.select(id_col), id_col, "left_anti")
    return clean, contaminated


def jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.6,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs via shingle inverted index.

    Scale path: the self-join shuffles on shingle strings; pass
    ``max_shingle_freq`` to drop shingles appearing in more than N docs
    (prefix filtering) — makes the join skew-proof at corpus scale at the cost
    of missing pairs that ONLY share ultra-common shingles.
    """
    sh = spread(df).selectExpr(f"`{id_col}` AS id", f"explode({shingles(f'`{text_col}`', k)}) AS sh")
    if max_shingle_freq is not None:
        hot = sh.groupBy("sh").count().filter(F.col("count") > max_shingle_freq).select("sh")
        sh = sh.join(F.broadcast(hot), "sh", "left_anti")
    sizes = sh.groupBy("id").agg(F.count("*").alias("sz"))
    common = (
        sh.alias("a")
        .join(sh.alias("b"), "sh")
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("common"))
    )
    return (
        common.join(sizes.withColumnsRenamed({"id": "id_a", "sz": "sz_a"}), "id_a")
        .join(sizes.withColumnsRenamed({"id": "id_b", "sz": "sz_b"}), "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("common") / (F.col("sz_a") + F.col("sz_b") - F.col("common")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )



def minhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3
) -> DataFrame:
    """Document minhash signatures as columns sig_0..sig_{NUM_HASHES-1}.

    Shape: explode shingles → md5 hash per row → one hash-aggregate with 16
    MIN functions. Everything stays in whole-stage codegen (array-lambda
    variants are interpreted and ~10x slower); the groupBy shuffle carries
    only (id, 16 bigints) thanks to map-side partial MINs, so the pattern
    holds at corpus scale.
    """
    sh = spread(df).selectExpr(f"`{id_col}`", f"{shingles(f'`{text_col}`', k)} AS shs")
    return _signatures_from_shingles(sh, id_col)


def _signatures_from_shingles(sh_df: DataFrame, id_col: str) -> DataFrame:
    """Signature aggregate over a precomputed (id, shingle-array) frame.

    The 16 MIN aggregates are built as single SQL-text expressions (one
    py4j round trip each) rather than composed Column objects (~6 round
    trips each): identical plan, but ~150 ms less driver latency per call
    (r12 profiling; plan construction is on the timed path every bench
    pass and on every batch of an incremental pipeline)."""
    ex = sh_df.selectExpr(f"`{id_col}`", "explode(shs) AS s").selectExpr(
        f"`{id_col}`",
        f"{T.md5_int('s')} % {MINHASH_P} AS h",
    )
    return ex.groupBy(id_col).agg(
        *[
            F.expr(f"MIN(({a} * h + {b}) % {MINHASH_P}) AS sig_{i}")
            for i, (a, b) in enumerate(HASH_PARAMS)
        ]
    )


def _band_frame(sig_df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Explode a signature frame to one (id, band, s0..s{rows-1}) row per
    LSH band — the joinable band index. Built as one SQL-text expression
    (single py4j round trip) — see _signatures_from_shingles."""
    structs = ", ".join(
        "named_struct("
        + f"'band', {b}, "
        + ", ".join(f"'s{r}', sig_{b * LSH_ROWS + r}" for r in range(LSH_ROWS))
        + ")"
        for b in range(LSH_BANDS)
    )
    return sig_df.select(
        F.col(id_col).alias("id"), F.expr(f"explode(array({structs})) AS bk")
    ).select("id", "bk.*")


def minhash_lsh_candidates(
    sig_df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """LSH banding: candidate pairs agreeing on ALL rows of at least one band.

    Signatures explode to one (id, band, row-values...) row per band, then a
    SINGLE self-join on the full band key buckets candidates — one shuffle of
    LSH_BANDS small rows per document, instead of LSH_BANDS separate
    self-joins over the whole signature table.  Exact band equality (no
    band-hash collisions).  Distinct dedups pairs found by multiple bands.
    """
    keys = ["band"] + [f"s{r}" for r in range(LSH_ROWS)]
    ex = _band_frame(sig_df, id_col)
    from qurious_spark.operators.caching import persist_rotating

    # both join sides read this narrow frame (LSH_BANDS rows/doc); persisting
    # computes the signature aggregation once and lets AQE broadcast the
    # build side when it is small
    ex = persist_rotating(ex, "minhash_band_frame")
    a = ex.withColumnRenamed("id", "id_a")
    b = ex.withColumnRenamed("id", "id_b")
    return (
        a.join(b, keys)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.6,
) -> DataFrame:
    """MinHash+LSH candidates verified with exact Jaccard (computed only for
    candidates — at scale this is the standard two-phase near-dup pipeline).

    The shingle arrays are computed ONCE and persisted: both the signature
    aggregate and the exact-verify join read the same materialized frame, so
    the regex-heavy normalize/tokenize/shingle work runs one time instead of
    two (this was the dominant recompute and the main run-to-run variance
    source at bench scale). MEMORY_AND_DISK spills rather than OOMs when the
    shingle frame outgrows executor memory at corpus scale.
    """
    from qurious_spark.operators.caching import persist_rotating

    sh = persist_rotating(
        spread(df).selectExpr(f"`{id_col}` AS id", f"{shingles(f'`{text_col}`', k)} AS shs"),
        "minhash_shingle_frame",
    )
    sig_df = _signatures_from_shingles(sh, "id").withColumnRenamed("id", id_col)
    cands = minhash_lsh_candidates(sig_df, id_col)
    a = sh.withColumnsRenamed({"id": "id_a", "shs": "shs_a"})
    b = sh.withColumnsRenamed({"id": "id_b", "shs": "shs_b"})
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .selectExpr(
            "id_a",
            "id_b",
            "size(array_intersect(shs_a, shs_b)) AS inter",
            "size(shs_a) AS sz_a",
            "size(shs_b) AS sz_b",
        )
        .selectExpr("id_a", "id_b", "round(inter / (sz_a + sz_b - inter), 6) AS jaccard")
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def simhash_fingerprints(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3
) -> DataFrame:
    """32-bit SimHash via explode + one codegen'd aggregate with 32 per-bit
    vote SUMs (same scale shape as minhash_signatures)."""
    ex = spread(df).selectExpr(
        f"`{id_col}`", f"explode({shingles(f'`{text_col}`', k)}) AS s"
    ).withColumn("h", F.expr(T.md5_int("s")))
    # single SQL-text expressions per aggregate / the final fold — one py4j
    # round trip each instead of ~8 per bit (see _signatures_from_shingles)
    votes = ex.groupBy(id_col).agg(
        *[
            F.expr(f"SUM((shiftright(h, {j}) & 1) * 2 - 1) AS v_{j}")
            for j in range(32)
        ]
    )
    fp = " + ".join(
        f"(CASE WHEN v_{j} > 0 THEN CAST({1 << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for j in range(32)
    )
    return votes.select(F.col(id_col), F.expr(f"({fp}) AS simhash"))


def simhash_near_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-duplicate pairs (Hamming <= max_hamming).

    Pairs are bucketed on 4 8-bit chunks of the fingerprint: any pair with
    Hamming <= 3 over 32 bits must agree exactly on at least one chunk
    (pigeonhole), so each self-join is an equi-join on a chunk value —
    no quadratic cross join at scale.
    """
    from qurious_spark.operators.caching import persist_rotating

    fps = persist_rotating(
        simhash_fingerprints(df, text_col, id_col, k), "simhash_fps"
    )  # read by all 4 chunk joins
    chunks = 4
    width = 8
    pairs = None
    for c in range(chunks):
        chunk = (F.shiftright(F.col("simhash"), c * width).bitwiseAND(F.lit((1 << width) - 1)))
        a = fps.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("fp_a"), chunk.alias("ck"))
        b = fps.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("fp_b"), chunk.alias("ck"))
        p = a.join(b, "ck").filter(F.col("id_a") < F.col("id_b")).select("id_a", "id_b", "fp_a", "fp_b")
        pairs = p if pairs is None else pairs.unionByName(p)
    return (
        pairs.distinct()
        .withColumn("hamming", F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def minhash_lsh_ml(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    num_hash_tables: int = 8,
) -> DataFrame:
    """Scale path using Spark ML's MinHashLSH (Spark-native hashing — not
    oracle-replicable; checked rows-only). HashingTF vectorizes shingle sets;
    approxSimilarityJoin prunes via LSH OR-amplification."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    with_sh = spread(df).selectExpr(f"`{id_col}`", f"{shingles(f'`{text_col}`')} AS shs").where(
        "size(shs) > 0"
    )
    tf = HashingTF(inputCol="shs", outputCol="features", numFeatures=1 << 18)
    feats = tf.transform(with_sh)
    mh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=num_hash_tables, seed=42)
    model = mh.fit(feats)
    joined = model.approxSimilarityJoin(feats, feats, 1.0 - threshold, distCol="dist")
    return (
        joined.filter(F.col(f"datasetA.{id_col}") < F.col(f"datasetB.{id_col}"))
        .select(
            F.col(f"datasetA.{id_col}").alias("id_a"),
            F.col(f"datasetB.{id_col}").alias("id_b"),
            F.round(1.0 - F.col("dist"), 6).alias("jaccard_est"),
        )
    )


def incremental_near_dups(
    new_df: DataFrame,
    corpus_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.6,
    corpus_signatures: DataFrame | None = None,
) -> DataFrame:
    """Incremental near-dup detection: which NEW documents duplicate the
    already-indexed corpus or an earlier document in the same new batch.

    The production shape this models: the corpus's minhash signatures are
    PRECOMPUTED and stored (pass ``corpus_signatures``; derived from
    ``corpus_df`` when absent) — each incoming batch only shingles itself,
    probes the banded index with an equi-join, and exact-verifies the
    candidates. Nothing rescans the corpus text except the candidate rows
    themselves (shingled AFTER the candidate semi-join, so the regex work is
    candidate-only). This is the don't-re-mine-100-TB path: per batch the
    cost is O(|batch|) signature work + band-join probes + O(|candidates|)
    verification.

    Returns (new_id, dup_of, jaccard, origin) with origin 'corpus' (dup of
    an indexed doc) or 'batch' (dup of a lower-id doc in the same batch).
    """
    from qurious_spark.operators.caching import persist_rotating

    sh_new = persist_rotating(
        spread(new_df).selectExpr(f"`{id_col}` AS id", f"{shingles(f'`{text_col}`', k)} AS shs"),
        "incr_new_shingles",
    )  # read by: signature agg, band probe (via sigs), and BOTH verify sides
    sig_new = _signatures_from_shingles(sh_new, "id")
    if corpus_signatures is None:
        corpus_signatures = minhash_signatures(corpus_df, text_col, id_col)
    keys = ["band"] + [f"s{r}" for r in range(LSH_ROWS)]
    ex_new = _band_frame(sig_new, "id")
    ex_c = _band_frame(corpus_signatures, id_col)
    cand_corpus = (
        ex_new.withColumnRenamed("id", "new_id")
        .join(ex_c.withColumnRenamed("id", "dup_of"), keys)
        .select("new_id", "dup_of")
        .distinct()
        .withColumn("origin", F.lit("corpus"))
    )
    cand_batch = (
        ex_new.withColumnRenamed("id", "id_a")
        .join(ex_new.withColumnRenamed("id", "id_b"), keys)
        .filter(F.col("id_a") < F.col("id_b"))
        .select(F.col("id_b").alias("new_id"), F.col("id_a").alias("dup_of"))
        .distinct()
        .withColumn("origin", F.lit("batch"))
    )
    cands = cand_corpus.unionByName(cand_batch)
    # candidate-only corpus shingling: semi-join first, shingle after
    c_ids = cand_corpus.select(F.col("dup_of").alias(id_col)).distinct()
    sh_c = (
        spread(corpus_df)
        .join(c_ids, id_col)
        .selectExpr(f"`{id_col}` AS id", f"{shingles(f'`{text_col}`', k)} AS shs")
    )
    # verify each candidate against the text of the SIDE it came from: a
    # doc id present in both the corpus and the batch would otherwise join
    # twice on dup_of (duplicating pairs) and 'corpus' candidates could
    # verify against the batch copy's text
    dup_side = sh_c.withColumn("origin", F.lit("corpus")).unionByName(
        sh_new.withColumn("origin", F.lit("batch"))
    )
    a = sh_new.withColumnsRenamed({"id": "new_id", "shs": "shs_n"})
    b = dup_side.withColumnsRenamed({"id": "dup_of", "shs": "shs_d"})
    return (
        cands.join(a, "new_id")
        .join(b, ["dup_of", "origin"])
        .withColumn("inter", F.size(F.array_intersect("shs_n", "shs_d")))
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter")
                / (F.size("shs_n") + F.size("shs_d") - F.col("inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("new_id", "dup_of", "jaccard", "origin")
    )


# --------------------------------------------------------------------------- #
# Character-gram pipelines: winnowing pairs and exact duplicated spans
# --------------------------------------------------------------------------- #


def winnow_fingerprint_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 7,
    w: int = 4,
) -> DataFrame:
    """(id, fingerprint) pairs of the winnowing sketch — the SCALE path.

    The array-valued functions/text.py ``winnow_fingerprints`` nests
    higher-order lambdas, and Spark evaluates a lambda's argument expressions
    per outer element — the gram-hash array is recomputed for every window
    position, O(n²) interpreted md5 per document. This variant computes each
    gram hash ONCE (posexplode, then hash per exploded row — plain codegen'd
    expressions) and takes window minima with a key-partitioned ROWS window,
    O(n·w) per document and one shuffle on the document id. Use this form
    for joins and aggregates; the array form is fine for short strings.
    """
    ident = f"`{id_col}`"
    # explode POSITIONS, not a gram array built by a lambda that captures
    # the normalized string (that form re-runs the normalize regex per
    # gram — O(n·|s|) per doc). The Generate's child computes __s once per
    # input row; the substring below runs once per exploded row.
    h = (
        df.selectExpr(ident, f"{T.normalize(f'`{text_col}`')} AS __s")
        .selectExpr(
            ident, "__s", f"posexplode(sequence(1, greatest(length(__s) - {k} + 1, 1))) AS (__pos, __i)"
        )
        .selectExpr(ident, "__pos", f"{T.md5_int(f'substring(__s, __i, {k})')} % {T.WINNOW_P} AS __hv")
    )
    fwd = Window.partitionBy(id_col).orderBy("__pos").rowsBetween(0, w - 1)
    part = Window.partitionBy(id_col)
    return (
        h.withColumn("__wm", F.min("__hv").over(fwd))
        .withColumn("__n", F.count("*").over(part))
        # windows that extend past the last gram are not selection windows
        # (except when the doc has fewer than w grams: single window)
        .where(f"__pos <= __n - {w} OR __pos = 0")
        .selectExpr(ident, "__wm AS fingerprint")
        .distinct()
    )


def duplicated_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_len: int = 60,
    cross_doc_only: bool = False,
) -> DataFrame:
    """Exact duplicated-substring spans (the Lee et al. 2022 "Deduplicating
    Training Data" shape): every maximal character range of the normalized
    text whose ``min_len``-grams also occur elsewhere in the corpus.

    Suffix arrays don't distribute; the equivalent Spark-first pipeline is:
    hash EVERY ``min_len``-gram position (explode positions + substring —
    each gram hashed once, the :func:`winnow_fingerprint_pairs`
    anti-recompute pattern), keep hashes occurring >= 2 times
    (``cross_doc_only`` demands two distinct documents, else within-doc
    repetition counts too), and merge the surviving fixed-length windows
    into maximal spans with a per-document lag window (linear per doc, keys
    spread across executors). Any duplicated substring of length >= min_len
    is covered by at least one surviving gram window, so the merged spans
    are exactly the maximal duplicated ranges at gram resolution. Hashes are
    60-bit md5 prefixes — collision odds ~2^-60 per pair; exact-match
    verification of spans can be layered on for adversarial corpora.

    Returns (id_col, span_start, span_end): 1-based char offsets into the
    NORMALIZED text, end exclusive.
    """
    L = int(min_len)
    if L < 2:
        raise ValueError("min_len must be >= 2")
    ident = f"`{id_col}`"
    h = (
        df.selectExpr(ident, f"{T.normalize(f'`{text_col}`')} AS __s")
        .where(f"length(__s) >= {L}")
        .selectExpr(ident, "__s", f"explode(sequence(1, length(__s) - {L} + 1)) AS __pos")
        .selectExpr(ident, "__pos", f"{T.md5_int(f'substring(__s, __pos, {L})')} AS __h")
    )
    agg = [F.count("*").alias("__n")]
    if cross_doc_only:
        agg.append(F.count_distinct(F.col(id_col)).alias("__nd"))
    freq = h.groupBy("__h").agg(*agg)
    dup = freq.where("__nd >= 2" if cross_doc_only else "__n >= 2").select("__h")
    pos_dup = h.join(dup, "__h").select(id_col, "__pos")
    w = Window.partitionBy(id_col).orderBy("__pos")
    grouped = (
        pos_dup.withColumn("__prev", F.lag("__pos").over(w))
        .withColumn(
            "__brk",
            F.expr(f"CASE WHEN __prev IS NULL OR __pos > __prev + {L} THEN 1 ELSE 0 END"),
        )
        .withColumn(
            "__gid",
            F.sum("__brk").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )
    return grouped.groupBy(id_col, "__gid").agg(
        F.expr("CAST(min(__pos) AS BIGINT) AS span_start"),
        F.expr(f"CAST(max(__pos) + {L} AS BIGINT) AS span_end"),
    ).select(id_col, "span_start", "span_end")
