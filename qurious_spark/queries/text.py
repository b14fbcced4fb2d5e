"""Text-analysis queries over the ``documents`` table (oracle-checked).

The Spark side builds its expressions from the SQL text in
qurious_spark.functions.text (handed to ``selectExpr``) and its
character-gram pipelines from operators/dedup.py; relations (joins,
windows, aggregates) stay DataFrame operations. The DuckDB oracle
replicates the exact same arithmetic so results hash-match.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from qurious_spark.functions import text as T
from qurious_spark.operators.dedup import duplicated_spans, spread, winnow_fingerprint_pairs
from qurious_spark.queries import df_query, table

# The documents text column as a SQL fragment for the functions/text.py builders.
_TEXT = "`text`"
# Shared DuckDB snippets replicating functions/text.py definitions.
_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
_TOKS = f"string_split({_NORM}, ' ')"


def _docs_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents scan, widened to the session's parallelism.

    Guide §2.6 idle capacity: the local single-file parquet scans as 1-2
    partitions, which serializes regex/gram-heavy per-document map stages
    onto one or two cores. ``spread`` (operators/dedup.py, the same adapter
    every dedup operator uses) repartitions size-aware (64 KiB/partition
    floor, capped at defaultParallelism) and is a no-op on a cluster scan
    that already arrives wide; results are row-wise / key-aggregated and
    partitioning-independent (pinned by the partitioning-perturbation
    gate). Measured on a 4-vCPU host (local[3], sf0.1, median of 5
    interleaved runs, spread against the identity): text_duplicate_spans
    6.28 s vs 14.57 s, text_winnow_overlap 3.13 s vs 5.38 s,
    text_pii_redact 0.44 s vs 0.85 s, text_quality 0.33 s vs 0.38 s.

    Applied ONLY where the pre-shuffle per-row work is heavy (quality,
    lang_id, repetition, chunking, PII redaction, winnowing, duplicate
    spans). The light-map or explode-into-shuffle entries (token_count,
    fingerprint, stats_by_source, vocab_doc_freq, tfidf) keep the narrow
    scan: on the old 32-core host they measured 0.02-0.1s SLOWER with the
    extra exchange + wider shuffle-map fan-out."""
    return spread(table(spark, sf_dir, "documents"))


@df_query(
    "text_token_count",
    f"""
    SELECT doc_id,
           CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_bpe_tokens,
           CAST(length(text) AS BIGINT) AS n_chars_measured
    FROM documents
    """,
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return docs.selectExpr(
        "doc_id",
        f"{T.token_count(_TEXT)} AS n_tokens",
        f"{T.bpe_ish_token_count(_TEXT)} AS n_bpe_tokens",
        f"{T.char_count(_TEXT)} AS n_chars_measured",
    )


@df_query(
    "text_fingerprint",
    f"""
    SELECT doc_id, md5({_NORM}) AS fp
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return docs.selectExpr("doc_id", f"{T.fingerprint(_TEXT)} AS fp")


@df_query(
    "text_quality",
    f"""
    WITH feat AS (
        SELECT doc_id,
               len({_TOKS}) AS n_tok,
               CASE WHEN length(text) > 0
                    THEN (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))) / length(text)
                    ELSE 0.0 END AS punct_r,
               CASE WHEN length(text) > 0
                    THEN (length(text) - length(regexp_replace(text, '[A-Z]', '', 'g'))) / length(text)
                    ELSE 0.0 END AS upper_r
        FROM documents
    )
    SELECT doc_id,
           ROUND((least(n_tok / 100.0, 1.0)
                + (1.0 - least(punct_r * 4.0, 1.0))
                + (1.0 - least(upper_r * 4.0, 1.0))) / 3.0, 6) AS quality
    FROM feat
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_wide(spark, sf_dir)
    return docs.selectExpr("doc_id", f"{T.quality_score(_TEXT)} AS quality")


def _duck_lang_id() -> str:
    """DuckDB replica of functions.text.lang_id: per-language stopword hit
    counts, argmax with alphabetical tiebreak, 'und' when all-zero."""
    score_cols = []
    for lang, sw in sorted(T.LANG_STOPWORDS.items()):
        arr = "[" + ", ".join(f"'{w}'" for w in sw) + "]"
        score_cols.append(
            f"len(list_filter({_TOKS}, x -> list_contains({arr}, x))) AS s_{lang}"
        )
    langs = sorted(T.LANG_STOPWORDS)
    mx = "greatest(" + ", ".join(f"s_{lang}" for lang in langs) + ")"
    pick = "CASE WHEN " + f"{mx} = 0 THEN 'und' "
    for lang in langs:
        pick += f"WHEN s_{lang} = {mx} THEN '{lang}' "
    pick += "END"
    return f"""
    WITH scored AS (
        SELECT doc_id, lang AS actual_lang, {", ".join(score_cols)}
        FROM documents
    )
    SELECT actual_lang, {pick} AS predicted_lang, count(*) AS cnt
    FROM scored
    GROUP BY 1, 2
    """


@df_query("text_lang_id", _duck_lang_id())
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_wide(spark, sf_dir)
    return (
        docs.selectExpr("lang AS actual_lang", f"{T.lang_id(_TEXT)} AS predicted_lang")
        .groupBy("actual_lang", "predicted_lang")
        .agg(F.count("*").alias("cnt"))
    )


@df_query(
    "text_stats_by_source",
    f"""
    SELECT source,
           count(*) AS n_docs,
           CAST(SUM(len({_TOKS})) AS BIGINT) AS total_tokens,
           ROUND(AVG(length(text)), 4) AS avg_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_declared_chars
    FROM documents
    GROUP BY source
    """,
)
def text_stats_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.expr(f"CAST(sum({T.token_count(_TEXT)}) AS BIGINT) AS total_tokens"),
        F.round(F.avg(F.length("text")), 4).alias("avg_chars"),
        F.max("n_chars").cast("bigint").alias("max_declared_chars"),
    )


# --------------------------------------------------------------------------- #
# Corpus statistics: vocabulary + TF-IDF — the token-level prep a training
# pipeline runs before sampling/packing. One explode + grouped aggregates;
# the (token, doc) shuffle carries ids only, with map-side partial counts.
# --------------------------------------------------------------------------- #


@df_query(
    "vocab_doc_freq",
    f"""
    SELECT tok,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS doc_freq,
           CAST(COUNT(*) AS BIGINT) AS term_freq
    FROM (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents)
    GROUP BY tok
    ORDER BY doc_freq DESC, tok
    LIMIT 100
    """,
)
def vocab_doc_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: document frequency + total term frequency per
    token (top 100 by df)."""
    docs = table(spark, sf_dir, "documents")
    toks = docs.selectExpr("doc_id", f"explode({T.tokens(_TEXT)}) AS tok")
    return (
        toks.groupBy("tok")
        .agg(
            F.count_distinct("doc_id").alias("doc_freq"),
            F.count(F.lit(1)).alias("term_freq"),
        )
        .orderBy(F.desc("doc_freq"), F.asc("tok"))
        .limit(100)
    )


@df_query(
    "text_tfidf_top_terms",
    f"""
    WITH toks AS (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents),
    tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY doc_id, tok),
    dfreq AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY tok),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.tok,
               ROUND(tf.tf * LN((n.n_docs + 1.0) / (dfreq.df + 1.0)), 6) AS tfidf
        FROM tf JOIN dfreq USING (tok) CROSS JOIN n
    )
    SELECT doc_id, tok, tfidf, CAST(rnk AS BIGINT) AS rnk FROM (
        SELECT doc_id, tok, tfidf,
               row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, tok) AS rnk
        FROM scored
    ) WHERE rnk <= 3 AND doc_id < 200
    ORDER BY doc_id, rnk
    """,
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (smoothed idf = ln((N+1)/(df+1));
    deterministic tiebreak on token). The df table is tiny after
    aggregation -> broadcast back; the tf shuffle is (doc, token) ids.

    r12: the corpus size joins in as a 1-row broadcast (the oracle's own
    CROSS JOIN n shape, same as tpch_q11's global total) instead of a
    driver-blocking ``docs.count()`` at plan-build time — one less
    serialized job per invocation, and the count is scheduled inside the
    query DAG. ``count + 1.0`` promotes to the same double the Python
    literal produced, so values are bit-identical."""
    docs = table(spark, sf_dir, "documents")
    toks = docs.selectExpr("doc_id", f"explode({T.tokens(_TEXT)}) AS tok")
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = toks.groupBy("tok").agg(F.count_distinct("doc_id").alias("df"))
    n = table(spark, sf_dir, "documents").agg(
        F.count(F.lit(1)).alias("__n_docs")
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("tok"))
    return (
        tf.join(F.broadcast(dfreq), "tok")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf") * F.log((F.col("__n_docs") + 1.0) / (F.col("df") + 1.0)),
                6,
            ),
        )
        .drop("__n_docs")
        .withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter((F.col("rnk") <= 3) & (F.col("doc_id") < 200))
        .select("doc_id", "tok", "tfidf", "rnk")
        .orderBy("doc_id", "rnk")
    )


def _duck_ngram_frac(n: int) -> str:
    """DuckDB replica of the top-n-gram occurrence fraction."""
    return f"""
        SELECT doc_id, MAX(c) * 1.0 / SUM(c) AS frac
        FROM (
            SELECT doc_id, g, COUNT(*) AS c
            FROM (
                SELECT doc_id,
                       unnest(list_transform(range(1, len(t) - {n} + 2),
                              i -> array_to_string(t[i:i+{n}-1], ' '))) AS g
                FROM (SELECT doc_id, string_split({_NORM}, ' ') AS t FROM documents)
                WHERE len(t) >= {n}
            ) GROUP BY doc_id, g
        ) GROUP BY doc_id
    """


@df_query(
    "text_repetition",
    f"""
    WITH ttr AS (
        SELECT doc_id,
               len(list_distinct(t)) * 1.0 / len(t) AS ttr
        FROM (SELECT doc_id, string_split({_NORM}, ' ') AS t FROM documents)
    ),
    f2 AS ({_duck_ngram_frac(2)}),
    f3 AS ({_duck_ngram_frac(3)})
    SELECT ttr.doc_id,
           ROUND(ttr.ttr, 6) AS ttr,
           ROUND(COALESCE(f2.frac, 0.0), 6) AS top2_frac,
           ROUND(COALESCE(f3.frac, 0.0), 6) AS top3_frac
    FROM ttr LEFT JOIN f2 ON ttr.doc_id = f2.doc_id
             LEFT JOIN f3 ON ttr.doc_id = f3.doc_id
    """,
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals: type-token ratio and the
    occurrence fraction of the most frequent 2-/3-gram. The n-gram passes
    shuffle (doc_id, gram) with map-side partial counts; the three signals
    join back on doc_id (co-partitioned aggregations, no wide rows)."""
    docs = _docs_wide(spark, sf_dir)

    def top_frac(n: int, name: str) -> DataFrame:
        return (
            docs.selectExpr("doc_id", f"explode({T.ngrams(_TEXT, n)}) AS g")
            .groupBy("doc_id", "g")
            .agg(F.count("*").alias("c"))
            .groupBy("doc_id")
            .agg((F.max("c") / F.sum("c")).alias(name))
        )

    ttr = docs.selectExpr("doc_id", f"round({T.type_token_ratio(_TEXT)}, 6) AS ttr")
    return (
        ttr.join(top_frac(2, "f2"), "doc_id", "left")
        .join(top_frac(3, "f3"), "doc_id", "left")
        .select(
            "doc_id",
            "ttr",
            F.round(F.coalesce(F.col("f2"), F.lit(0.0)), 6).alias("top2_frac"),
            F.round(F.coalesce(F.col("f3"), F.lit(0.0)), 6).alias("top3_frac"),
        )
    )


# --------------------------------------------------------------------------- #
# Chunking + PII redaction — the map-only prep passes a training pipeline
# runs between filtering and packing. Both are pure JVM expression chains.
# --------------------------------------------------------------------------- #

# chunk_size=32, overlap=8 -> stride 24; starts are 1-based token offsets.
_CHUNK_STARTS = f"range(1, greatest(len({_TOKS}) - 8, 1) + 1, 24)"


@df_query(
    "text_chunk_documents",
    f"""
    SELECT doc_id,
           CAST((start - 1) // 24 AS BIGINT) AS chunk_idx,
           md5(array_to_string(t[start : start + 31], ' ')) AS chunk_fp,
           CAST(len(t[start : start + 31]) AS BIGINT) AS n_chunk_tokens
    FROM (
        SELECT doc_id, {_TOKS} AS t, unnest({_CHUNK_STARTS}) AS start
        FROM documents
    )
    """,
)
def text_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (operators/chunking.py): 32-token
    chunks with 8-token overlap; chunks are fingerprinted so the compare
    stays compact."""
    from qurious_spark.operators.chunking import chunk_documents

    docs = _docs_wide(spark, sf_dir)
    out = chunk_documents(docs, chunk_size=32, overlap=8)
    return out.select(
        "doc_id", "chunk_idx", F.md5("chunk").alias("chunk_fp"), "n_chunk_tokens"
    )


def _pii_sql() -> str:
    from qurious_spark.functions.redact import pii_count_sql, redact_pii_sql

    # Deterministic PII injected from doc_id so the redactor has real work:
    # the corpus itself is synthetic and PII-free.
    salted = (
        "text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'"
        " || ' or +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
        " || ' ssn 123-45-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
    )
    return f"""
    SELECT doc_id,
           {pii_count_sql(salted, "email")} AS n_emails,
           {pii_count_sql(salted, "phone")} AS n_phones,
           {pii_count_sql(salted, "ssn")} AS n_ssns,
           md5({redact_pii_sql(salted)}) AS redacted_fp
    FROM documents
    """


@df_query("text_pii_redact", _pii_sql())
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub (functions/redact.py): detect + mask emails/phones/SSNs.
    The testdata is PII-free, so deterministic PII derived from doc_id is
    appended first; the oracle replicates the same derivation, so a
    redactor that under- or over-masks hash-mismatches."""
    from qurious_spark.functions.redact import pii_count, redact_pii

    docs = _docs_wide(spark, sf_dir)
    salted = (
        "concat(text, ' contact user', CAST(doc_id AS STRING),"
        " '@example.com or +1-555-', lpad(CAST(doc_id % 10000 AS STRING), 4, '0'),"
        " ' ssn 123-45-', lpad(CAST(doc_id % 10000 AS STRING), 4, '0'))"
    )
    return docs.selectExpr(
        "doc_id",
        f"{pii_count(salted, 'email')} AS n_emails",
        f"{pii_count(salted, 'phone')} AS n_phones",
        f"{pii_count(salted, 'ssn')} AS n_ssns",
        f"md5({redact_pii(salted)}) AS redacted_fp",
    )


@df_query(
    "text_length_filter",
    f"""
    WITH bounds AS (
        SELECT ROUND(quantile_cont(n_chars, 0.05), 4) AS lo,
               ROUND(quantile_cont(n_chars, 0.95), 4) AS hi
        FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_kept,
           ROUND(AVG(n_chars), 4) AS avg_chars
    FROM documents, bounds
    WHERE n_chars >= bounds.lo AND n_chars <= bounds.hi
    GROUP BY source
    """,
)
def text_length_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-band length filter: drop the shortest/longest 5% of
    documents (truncation + boilerplate tails), report per-source survivor
    stats. The exact percentile pair aggregates to ONE row that joins back
    as a broadcast — no second scan ordering, no window; at 100 TB swap
    ``percentile`` for ``approx_percentile`` (same plan shape)."""
    docs = table(spark, sf_dir, "documents")
    bounds = docs.agg(
        F.round(F.expr("percentile(n_chars, 0.05)"), 4).alias("lo"),
        F.round(F.expr("percentile(n_chars, 0.95)"), 4).alias("hi"),
    )
    return (
        docs.join(F.broadcast(bounds))
        .filter((F.col("n_chars") >= F.col("lo")) & (F.col("n_chars") <= F.col("hi")))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_kept"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        )
    )


@df_query(
    "text_fuzzy_join",
    """
    WITH typos AS (
        SELECT n_nationkey AS typo_id,
               substr(n_name, 1, 2) || substr(n_name, 4) AS typo
        FROM nation
    )
    SELECT t.typo_id, t.typo, n.n_name AS matched,
           CAST(levenshtein(t.typo, n.n_name) AS INT) AS dist
    FROM typos t, nation n
    WHERE levenshtein(t.typo, n.n_name) <= 1
    """,
)
def text_fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance join via q-gram candidate pruning
    (operators/fuzzyjoin.py): nation names with their 3rd character deleted
    are matched back within distance 1. The oracle brute-forces
    levenshtein over all pairs — the pruned inverted-index join must find
    exactly the same matches (the count-filter bound is lossless at these
    lengths)."""
    from qurious_spark.operators.fuzzyjoin import fuzzy_join

    nation = table(spark, sf_dir, "nation")
    typos = nation.select(
        F.col("n_nationkey").alias("typo_id"),
        F.concat(
            F.substring("n_name", 1, 2), F.expr("substring(n_name, 4)")
        ).alias("typo"),
    )
    out = fuzzy_join(typos, nation.select("n_name"), "typo", "n_name", max_dist=1, q=2)
    return out.select(
        "typo_id", "typo", F.col("n_name").alias("matched"), F.col("dist")
    )


@df_query(
    "text_winnow_fingerprints",
    # Same md5-derived k-gram hash as the Spark side (queries/dedup.py
    # _duck_md5int), same window minima; arrays compacted to count/min/max/
    # sum so the hash compare pins every fingerprint without hauling the
    # full arrays. Spark sequence(1, m) is inclusive -> DuckDB range(1, m+1);
    # DuckDB list slices are 1-based inclusive -> hs[j : j+w-1].
    """
    WITH nrm AS (
        SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS s
        FROM documents
    ),
    h AS (
        SELECT doc_id,
               list_transform(
                   list_transform(range(1, greatest(len(s) - 7 + 1, 1) + 1),
                                  i -> substr(s, i, 7)),
                   g -> ((strpos('0123456789abcdef', substr(md5(g), 1, 1)) - 1) * 72057594037927936 + (strpos('0123456789abcdef', substr(md5(g), 2, 1)) - 1) * 4503599627370496 + (strpos('0123456789abcdef', substr(md5(g), 3, 1)) - 1) * 281474976710656 + (strpos('0123456789abcdef', substr(md5(g), 4, 1)) - 1) * 17592186044416 + (strpos('0123456789abcdef', substr(md5(g), 5, 1)) - 1) * 1099511627776 + (strpos('0123456789abcdef', substr(md5(g), 6, 1)) - 1) * 68719476736 + (strpos('0123456789abcdef', substr(md5(g), 7, 1)) - 1) * 4294967296 + (strpos('0123456789abcdef', substr(md5(g), 8, 1)) - 1) * 268435456 + (strpos('0123456789abcdef', substr(md5(g), 9, 1)) - 1) * 16777216 + (strpos('0123456789abcdef', substr(md5(g), 10, 1)) - 1) * 1048576 + (strpos('0123456789abcdef', substr(md5(g), 11, 1)) - 1) * 65536 + (strpos('0123456789abcdef', substr(md5(g), 12, 1)) - 1) * 4096 + (strpos('0123456789abcdef', substr(md5(g), 13, 1)) - 1) * 256 + (strpos('0123456789abcdef', substr(md5(g), 14, 1)) - 1) * 16 + (strpos('0123456789abcdef', substr(md5(g), 15, 1)) - 1) * 1) % 2147483647) AS hs
        FROM nrm
    ),
    m AS (
        SELECT doc_id,
               list_sort(list_distinct(
                   list_transform(range(1, greatest(len(hs) - 4 + 1, 1) + 1),
                                  j -> list_min(hs[j : j + 3])))) AS fp
        FROM h
    )
    SELECT doc_id,
           CAST(len(fp) AS BIGINT) AS n_fp,
           fp[1] AS fp_min,
           fp[-1] AS fp_max,
           CAST(list_sum(fp) AS BIGINT) AS fp_sum
    FROM m
    """,
)
def text_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (MOSS, SIGMOD 2003): character
    k-gram hashes, window-min selection (functions/text.py
    winnow_fingerprints) — the character-level copy-detection sketch that
    survives token reflows word-shingle dedup misses. Guarantee: any shared
    substring >= k+w-1 chars shares a fingerprint. Uses the explode+window
    pair path (each gram hashed ONCE; the nested-lambda array form is
    O(n^2) per doc — see the operators/dedup.py winnow_fingerprint_pairs
    docstring)."""
    docs = _docs_wide(spark, sf_dir)
    pairs = winnow_fingerprint_pairs(docs)
    return pairs.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_fp"),
        F.min("fingerprint").alias("fp_min"),
        F.max("fingerprint").alias("fp_max"),
        F.sum("fingerprint").cast("bigint").alias("fp_sum"),
    )


# drop fingerprints present in more than this many documents before the
# overlap self-join (pair fan-out per fingerprint is d(d-1)/2) — mirrored
# verbatim in the oracle SQL's `HAVING count(*) <= 100`
WINNOW_MAX_FP_DF = 100


@df_query(
    "text_winnow_overlap",
    # Inverted-index overlap on the winnowing sketch: explode fingerprints,
    # equi-self-join on the bigint value, count shared per pair. The oracle
    # reuses the exact fingerprint CTE from text_winnow_fingerprints.
    """
    WITH nrm AS (
        SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS s
        FROM documents
    ),
    h AS (
        SELECT doc_id,
               list_transform(
                   list_transform(range(1, greatest(len(s) - 7 + 1, 1) + 1),
                                  i -> substr(s, i, 7)),
                   g -> ((strpos('0123456789abcdef', substr(md5(g), 1, 1)) - 1) * 72057594037927936 + (strpos('0123456789abcdef', substr(md5(g), 2, 1)) - 1) * 4503599627370496 + (strpos('0123456789abcdef', substr(md5(g), 3, 1)) - 1) * 281474976710656 + (strpos('0123456789abcdef', substr(md5(g), 4, 1)) - 1) * 17592186044416 + (strpos('0123456789abcdef', substr(md5(g), 5, 1)) - 1) * 1099511627776 + (strpos('0123456789abcdef', substr(md5(g), 6, 1)) - 1) * 68719476736 + (strpos('0123456789abcdef', substr(md5(g), 7, 1)) - 1) * 4294967296 + (strpos('0123456789abcdef', substr(md5(g), 8, 1)) - 1) * 268435456 + (strpos('0123456789abcdef', substr(md5(g), 9, 1)) - 1) * 16777216 + (strpos('0123456789abcdef', substr(md5(g), 10, 1)) - 1) * 1048576 + (strpos('0123456789abcdef', substr(md5(g), 11, 1)) - 1) * 65536 + (strpos('0123456789abcdef', substr(md5(g), 12, 1)) - 1) * 4096 + (strpos('0123456789abcdef', substr(md5(g), 13, 1)) - 1) * 256 + (strpos('0123456789abcdef', substr(md5(g), 14, 1)) - 1) * 16 + (strpos('0123456789abcdef', substr(md5(g), 15, 1)) - 1) * 1) % 2147483647) AS hs
        FROM nrm
    ),
    m AS (
        SELECT doc_id,
               list_distinct(
                   list_transform(range(1, greatest(len(hs) - 4 + 1, 1) + 1),
                                  j -> list_min(hs[j : j + 3]))) AS fp
        FROM h
    ),
    ex AS (SELECT doc_id, unnest(fp) AS f FROM m),
    freq AS (SELECT f FROM ex GROUP BY f HAVING count(*) <= 100),
    exf AS (SELECT ex.doc_id, ex.f FROM ex JOIN freq USING (f))
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(count(*) AS BIGINT) AS shared
    FROM exf a JOIN exf b ON a.f = b.f AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING count(*) >= 20
    """,
)
def text_winnow_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy detection over the winnowing sketch: document pairs sharing >= 20
    fingerprints, found with a fingerprint inverted-index self-join — the
    join shuffles (doc_id, bigint) rows keyed on the fingerprint value, so
    at corpus scale the pair search never touches text and never goes
    quadratic outside genuinely-shared fingerprints.

    Hot-fingerprint cap (the dedup max_shingle_freq rule): a fingerprint
    present in d documents fans out to d(d-1)/2 pairs, so corpus
    boilerplate dominates the join — measured at the 10x data shape,
    uncapped overlap produced 22.4M pairs in 112s where genuine copy pairs
    share plenty of RARE fingerprints. Fingerprints in more than
    WINNOW_MAX_FP_DF documents are dropped before the self-join (both
    engines apply the identical cap, so the oracle stays exact)."""
    from qurious_spark.operators.caching import persist_rotating

    docs = _docs_wide(spark, sf_dir)
    ex = persist_rotating(
        winnow_fingerprint_pairs(docs).withColumnRenamed("fingerprint", "f"),
        "winnow_fp_pairs",
    )  # computed once, read by the frequency cap and both join sides
    rare = ex.groupBy("f").agg(F.count("*").alias("__df")).filter(
        F.col("__df") <= WINNOW_MAX_FP_DF
    ).select("f")
    exf = ex.join(rare, "f")
    a = exf.withColumnRenamed("doc_id", "id_a")
    b = exf.withColumnRenamed("doc_id", "id_b")
    return (
        a.join(b, "f")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").cast("bigint").alias("shared"))
        .filter(F.col("shared") >= 20)
    )


@df_query(
    "text_duplicate_spans",
    # Same pipeline in DuckDB: hash every 60-gram position of the normalized
    # text, keep hashes occurring >= 2 times, merge surviving windows into
    # maximal spans with a lag window. Reuses the md5->bigint mapping proven
    # in sync by the winnowing entries.
    f"""
    WITH nrm AS (
        SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS s
        FROM documents
    ),
    g AS (
        SELECT doc_id, s,
               unnest(range(1, len(s) - 60 + 2)) AS pos
        FROM nrm WHERE len(s) >= 60
    ),
    h AS (
        SELECT doc_id, pos,
               ((strpos('0123456789abcdef', substr(md5(substr(s, pos, 60)), 1, 1)) - 1) * 72057594037927936 + (strpos('0123456789abcdef', substr(md5(substr(s, pos, 60)), 2, 1)) - 1) * 4503599627370496 + (strpos('0123456789abcdef', substr(md5(substr(s, pos, 60)), 3, 1)) - 1) * 281474976710656 + (strpos('0123456789abcdef', substr(md5(substr(s, pos, 60)), 4, 1)) - 1) * 17592186044416 + (strpos('0123456789abcdef', substr(md5(substr(s, pos, 60)), 5, 1)) - 1) * 1099511627776 + (strpos('0123456789abcdef', substr(md5(substr(s, pos, 60)), 6, 1)) - 1) * 68719476736 + (strpos('0123456789abcdef', substr(md5(substr(s, pos, 60)), 7, 1)) - 1) * 4294967296 + (strpos('0123456789abcdef', substr(md5(substr(s, pos, 60)), 8, 1)) - 1) * 268435456 + (strpos('0123456789abcdef', substr(md5(substr(s, pos, 60)), 9, 1)) - 1) * 16777216 + (strpos('0123456789abcdef', substr(md5(substr(s, pos, 60)), 10, 1)) - 1) * 1048576 + (strpos('0123456789abcdef', substr(md5(substr(s, pos, 60)), 11, 1)) - 1) * 65536 + (strpos('0123456789abcdef', substr(md5(substr(s, pos, 60)), 12, 1)) - 1) * 4096 + (strpos('0123456789abcdef', substr(md5(substr(s, pos, 60)), 13, 1)) - 1) * 256 + (strpos('0123456789abcdef', substr(md5(substr(s, pos, 60)), 14, 1)) - 1) * 16 + (strpos('0123456789abcdef', substr(md5(substr(s, pos, 60)), 15, 1)) - 1) * 1) AS hv
        FROM g
    ),
    dup AS (SELECT hv FROM h GROUP BY hv HAVING count(*) >= 2),
    p AS (SELECT h.doc_id, h.pos FROM h JOIN dup USING (hv)),
    m AS (
        SELECT doc_id, pos,
               CASE WHEN lag(pos) OVER w IS NULL
                         OR pos > lag(pos) OVER w + 60 THEN 1 ELSE 0 END AS brk
        FROM p
        WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    grp AS (
        SELECT doc_id, pos,
               SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gid
        FROM m
    )
    SELECT doc_id,
           CAST(MIN(pos) AS BIGINT) AS span_start,
           CAST(MAX(pos) + 60 AS BIGINT) AS span_end
    FROM grp GROUP BY doc_id, gid
    """,
)
def text_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-substring spans (operators/dedup.py duplicated_spans,
    the Lee et al. 2022 exact complement to the winnowing sketch): maximal
    normalized-text ranges whose 60-grams occur >= 2 times in the corpus.
    Every gram is hashed once (posexplode pattern); span merging is a
    per-document lag window."""
    docs = _docs_wide(spark, sf_dir)
    return duplicated_spans(docs, min_len=60)
