"""Training-data prep operators added round 4: chunking, PII redaction,
deterministic splitting, prefix dedup, int8 quantization."""

import pytest
from pyspark.sql import functions as F

from qurious_spark.operators.chunking import chunk_documents
from qurious_spark.operators.dedup import prefix_dedup
from qurious_spark.operators.quantize import quantize_int8
from qurious_spark.operators.splitting import assign_split, split_assignment


def test_chunking_windows_and_overlap(spark):
    text = " ".join(f"w{i}" for i in range(100))  # 100 tokens
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    rows = (
        chunk_documents(df, chunk_size=32, overlap=8)
        .orderBy("chunk_idx")
        .collect()
    )
    # stride 24: starts 1, 25, 49, 73 -> last window holds 100-72=28 tokens
    assert [r.chunk_idx for r in rows] == [0, 1, 2, 3]
    assert [r.n_chunk_tokens for r in rows] == [32, 32, 32, 28]
    # consecutive chunks share exactly `overlap` tokens
    c0, c1 = rows[0].chunk.split(" "), rows[1].chunk.split(" ")
    assert c0[-8:] == c1[:8]
    # full coverage: every token appears in some chunk
    seen = {t for r in rows for t in r.chunk.split(" ")}
    assert seen == set(text.split(" "))


def test_chunking_short_and_empty_doc(spark):
    df = spark.createDataFrame(
        [(1, "only three tokens"), (2, "x")], "doc_id long, text string"
    )
    rows = chunk_documents(df, chunk_size=32, overlap=8).collect()
    by_id = {r.doc_id: r for r in rows}
    assert len(rows) == 2  # one chunk each, no explosion
    assert by_id[1].n_chunk_tokens == 3 and by_id[2].n_chunk_tokens == 1


def test_chunking_rejects_bad_overlap(spark):
    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError):
        chunk_documents(df, chunk_size=8, overlap=8)


def test_pii_redaction_masks_and_counts(spark):
    from qurious_spark.functions.redact import pii_count, redact_pii

    df = spark.createDataFrame(
        [
            (1, "mail a.b-c_d@ex-ample.co.uk and bob@x.io, call +44-020-7946"),
            (2, "ssn 123-45-6789 from 192.168.0.1"),
            (3, "clean text, no pii at all"),
        ],
        "id long, t string",
    )
    out = df.selectExpr(
        "id",
        "t",
        f"{redact_pii('t')} AS r",
        f"{pii_count('t', 'email')} AS ne",
        f"{pii_count('t', 'phone')} AS np",
        f"{pii_count('t', 'ssn')} AS ns",
        f"{pii_count('t', 'ip')} AS ni",
    ).collect()
    by_id = {r.id: r for r in out}
    assert by_id[1].r == "mail <EMAIL> and <EMAIL>, call <PHONE>"
    assert (by_id[1].ne, by_id[1].np) == (2, 1)
    assert by_id[2].r == "ssn <SSN> from <IP>"
    assert (by_id[2].ns, by_id[2].ni) == (1, 1)
    assert by_id[3].r == by_id[3].t  # untouched when no PII present
    assert (by_id[3].ne, by_id[3].np, by_id[3].ns, by_id[3].ni) == (0, 0, 0, 0)


def test_split_deterministic_and_complete(spark):
    df = spark.range(2000).withColumnRenamed("id", "k")
    out = assign_split(df, "k").groupBy("split").count().collect()
    counts = {r.split: r["count"] for r in out}
    assert set(counts) == {"train", "val", "test"}
    assert sum(counts.values()) == 2000
    # ~80/10/10 within quantization tolerance (256 buckets)
    assert 0.70 < counts["train"] / 2000 < 0.90
    # stable under repartitioning and re-evaluation
    a = sorted(assign_split(df.repartition(7), "k").collect())
    b = sorted(assign_split(df, "k").collect())
    assert a == b


def test_split_growth_does_not_move_existing_keys(spark):
    small = assign_split(spark.range(100).withColumnRenamed("id", "k"), "k")
    big = assign_split(spark.range(1000).withColumnRenamed("id", "k"), "k")
    small_map = {r.k: r.split for r in small.collect()}
    big_map = {r.k: r.split for r in big.collect()}
    assert all(big_map[k] == v for k, v in small_map.items())


def test_split_custom_weights_validate():
    with pytest.raises(ValueError):
        split_assignment(F.lit(1), {"a": 0.0, "b": 0.0})


def test_prefix_dedup_groups_shared_openings(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over one lazy dog"),
            (2, "The  Quick Brown fox differs after the opening here"),
            (3, "completely different text entirely"),
        ],
        "doc_id long, text string",
    )
    rows = prefix_dedup(df, n_tokens=4).collect()
    by_keeper = {r.doc_id: r.dup_count for r in rows}
    assert by_keeper == {1: 2, 3: 1}  # 1+2 collapse (case/space-insensitive)


def test_quantize_int8_roundtrip(spark):
    df = spark.createDataFrame(
        [(1, [1.0, -0.5, 0.25, 0.0]), (2, [0.0, 0.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    rows = {r.vec_id: r for r in quantize_int8(df).collect()}
    r1 = rows[1]
    assert abs(r1.scale - 1.0 / 127) < 1e-12
    assert r1.codes == [127, -64, 32, 0]  # round(x / (1/127))
    assert max(abs(c) for c in r1.codes) <= 127
    assert r1.mse < (r1.scale / 2) ** 2  # error bounded by half-step
    # zero vector: guarded scale, zero codes, zero error
    r2 = rows[2]
    assert r2.scale == 0.0 and r2.codes == [0, 0, 0, 0] and r2.mse == 0.0


def test_split_zero_weight_label_gets_no_keys(spark):
    df = spark.range(2000).withColumnRenamed("id", "k")
    rows = assign_split(df, "k", {"train": 1.0, "val": 0.0}).collect()
    assert {r.split for r in rows} == {"train"}  # val declared empty, stays empty


def test_split_negative_weight_rejected_anywhere():
    import pytest as _pytest

    with _pytest.raises(ValueError):
        split_assignment(F.lit(1), {"a": 1.0, "b": -0.5})  # last-position negative


def test_chunking_null_text_behaves_as_empty(spark):
    df = spark.createDataFrame([(1, None)], "doc_id long, text string")
    rows = chunk_documents(df, chunk_size=32, overlap=8).collect()
    assert len(rows) == 1
    assert rows[0].chunk == "" and rows[0].n_chunk_tokens == 1  # one empty token


def test_incremental_near_dups_matches_full_batch(spark):
    """incremental(new, corpus) must find exactly the full-batch pairs whose
    HIGHER id is in the new half (orientation: new_id > dup_of for batch
    pairs; corpus pairs pair a new doc with an indexed one)."""
    from pyspark.sql import functions as F

    from qurious_spark.operators.dedup import (
        incremental_near_dups,
        minhash_dedup_pairs,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    mid = docs.agg(F.max("doc_id")).collect()[0][0]
    corpus = docs.filter(F.col("doc_id") * 2 <= mid)
    new = docs.filter(F.col("doc_id") * 2 > mid)
    inc = {
        (r.dup_of, r.new_id, r.jaccard)
        for r in incremental_near_dups(new, corpus, threshold=0.5).collect()
    }
    full = {
        (r.id_a, r.id_b, r.jaccard)
        for r in minhash_dedup_pairs(docs, threshold=0.5).collect()
        if r.id_b * 2 > mid  # pairs whose higher id is a "new" doc
    }
    assert inc == full and inc


def test_incremental_near_dups_overlapping_ids_no_duplicate_pairs(spark):
    """An id present in BOTH the corpus and the new batch must not double
    the verified pairs: each candidate verifies against the text of the
    side it came from (origin-keyed verify join)."""
    from qurious_spark.operators.dedup import incremental_near_dups

    base = "the quick brown fox jumps over the lazy dog again and again " * 5
    corpus = spark.createDataFrame(
        [(1, base), (2, "a completely different corpus document about spark engines")],
        "doc_id long, text string",
    )
    # id 1 appears in the batch too, with the same text (re-ingested doc)
    new = spark.createDataFrame(
        [(1, base), (10, base + " tail"), (11, "unrelated short text entirely")],
        "doc_id long, text string",
    )
    rows = incremental_near_dups(new, corpus, threshold=0.5).collect()
    pairs = [(r.new_id, r.dup_of, r.origin) for r in rows]
    assert len(pairs) == len(set(pairs)), f"duplicated verified pairs: {pairs}"
    by_origin = {(n, d): o for n, d, o in pairs}
    # the re-ingested doc duplicates its own corpus copy
    assert by_origin.get((1, 1)) == "corpus"
    # near-dup of corpus doc 1 and of batch doc 1
    assert by_origin.get((10, 1)) in ("corpus", "batch")


def test_duplicated_spans_finds_shared_and_repeated_substrings(spark):
    from qurious_spark.operators.dedup import duplicated_spans

    shared = "the quick brown fox jumps over the lazy dog while the band plays on"
    rep = "abcdefghij klmnopqrst uvwxyz0123 456789abcd efghijklmn"
    docs = spark.createDataFrame(
        [
            (1, f"AAA {shared} BBB"),
            (2, f"CCCCC {shared} DDDDD"),
            (3, f"{rep} ---- {rep}"),  # within-doc repetition
            (4, "tiny"),  # below min_len: no grams, no spans
            (5, "completely unrelated text that appears exactly once here ok"),
        ],
        "doc_id long, text string",
    )
    spans = duplicated_spans(docs, min_len=40).collect()
    by_doc = {}
    for r in spans:
        by_doc.setdefault(r.doc_id, []).append((r.span_start, r.span_end))
    # docs 1 and 2 share `shared` (len 68 > 40): each gets exactly one span
    assert len(by_doc[1]) == 1 and len(by_doc[2]) == 1
    (s1, e1), (s2, e2) = by_doc[1][0], by_doc[2][0]
    assert e1 - s1 >= len(shared) and e2 - s2 >= len(shared)
    # doc 3's internal repetition is caught without any cross-doc partner
    assert 3 in by_doc
    # no false positives
    assert 4 not in by_doc and 5 not in by_doc

    # cross_doc_only drops the within-doc-only repetition
    cross = duplicated_spans(docs, min_len=40, cross_doc_only=True).collect()
    assert {r.doc_id for r in cross} == {1, 2}


def test_duplicated_spans_offsets_slice_to_identical_text(spark):
    from qurious_spark.functions.text import normalize
    from qurious_spark.operators.dedup import duplicated_spans

    shared = "zero one two three four five six seven eight nine ten eleven"
    docs = spark.createDataFrame(
        [(1, f"xx {shared} yy"), (2, f"qqqq {shared} rrrr")],
        "doc_id long, text string",
    )
    spans = {r.doc_id: r for r in duplicated_spans(docs, min_len=30).collect()}
    norm = {
        r.doc_id: r.s
        for r in docs.selectExpr("doc_id", f"{normalize('`text`')} AS s").collect()
    }
    cut = lambda d: norm[d][spans[d].span_start - 1 : spans[d].span_end - 1]
    assert shared in cut(1) and shared in cut(2)
    assert cut(1) == cut(2)  # maximal spans of the same shared run agree


def test_shingles_sql_text_form(spark):
    """The SQL-text shingles (r12 driver-latency form) is bit-identical to
    the Column-composed tree it replaced, including the short-document,
    empty, whitespace-only, and NULL edge cases."""
    from qurious_spark.operators.dedup import shingles

    def shingles_column_reference(col, k):
        # the pre-r12 Column composition, kept verbatim as the reference
        toks = F.split(F.trim(F.regexp_replace(F.lower(col), r"\s+", " ")), " ")
        shifted = [toks] + [
            F.slice(toks, i + 1, F.greatest(F.size(toks) - i, F.lit(0)))
            for i in range(1, k)
        ]
        zipped = F.arrays_zip(*shifted)
        full = F.filter(zipped, lambda s: s[str(k - 1)].isNotNull())
        windows = F.transform(
            full, lambda s: F.concat_ws(" ", *[s[str(i)] for i in range(k)])
        )
        return F.array_distinct(
            F.when(F.size(toks) >= k, windows).otherwise(
                F.array(F.array_join(toks, " "))
            )
        )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "one"),
            (3, ""),
            (4, "   "),
            (5, "a  b\tc   d"),
            (6, None),
            (7, "dup dup dup dup"),
        ],
        "doc_id long, text string",
    )
    for k in (2, 3, 5):
        got = {
            r.doc_id: tuple(r.shs) if r.shs is not None else None
            for r in docs.selectExpr(
                "doc_id", f"{shingles('`text`', k)} AS shs"
            ).collect()
        }
        want = {
            r.doc_id: tuple(r.shs) if r.shs is not None else None
            for r in docs.select(
                "doc_id", shingles_column_reference(F.col("text"), k).alias("shs")
            ).collect()
        }
        assert got == want, f"k={k}: {got} != {want}"


def test_vector_sql_twins(spark):
    """The SQL-text vector expressions (dim=None folds) match the
    Column/HOF compositions they replaced bit-exactly, including zero and
    empty vectors."""
    from qurious_spark.functions import vector as V

    df = spark.createDataFrame(
        [
            (1, [1.5, -2.25, 3.0], [0.5, 4.0, -1.0]),
            (2, [0.0, 0.0, 0.0], [1.0, 2.0, 3.0]),
            (3, [], []),
            (4, [1e-7, 2e7, -3.5], [7.25, 0.125, 9.0]),
        ],
        "id long, a array<double>, b array<double>",
    )

    # the Column/HOF compositions, kept here as the reference
    def dot(a, b):
        return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)

    def norm_sq(a):
        return F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v)

    a, b = F.col("a"), F.col("b")
    denom = F.sqrt(norm_sq(a)) * F.sqrt(norm_sq(b))
    l2_sq = F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)), F.lit(0.0), lambda acc, v: acc + v
    )
    hof = df.select(
        "id",
        dot(a, b).alias("d"),
        norm_sq(a).alias("n"),
        F.sqrt(norm_sq(b)).alias("l"),
        F.transform(a, lambda x: x.cast("double")).alias("c"),
        F.when(denom > 0, dot(a, b) / denom).otherwise(F.lit(0.0)).alias("cos"),
        l2_sq.alias("l2sq"),
    ).collect()
    txt = df.selectExpr(
        "id",
        f"{V.dot_sql('a', 'b')} AS d",
        f"{V.norm_sq_sql('a')} AS n",
        f"{V.l2_norm_sql('b')} AS l",
        f"{V.as_double_sql('a')} AS c",
        f"{V.cosine_sql('a', 'b')} AS cos",
        f"{V.l2_sq_sql('a', 'b')} AS l2sq",
    ).collect()
    for h, t in zip(sorted(hof), sorted(txt)):
        assert h == t
