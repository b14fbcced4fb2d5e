"""Winnowing fingerprints: the array form (functions/text.py) against the
pair path (operators/dedup.py)."""

from qurious_spark.functions.text import winnow_fingerprints
from qurious_spark.operators.dedup import winnow_fingerprint_pairs

K, W = 7, 4


def _fp_sets(spark, texts):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    out = {}
    for r in winnow_fingerprint_pairs(df, k=K, w=W).collect():
        out.setdefault(r.doc_id, set()).add(r.fingerprint)
    return out


def test_pair_path_matches_array_path(spark):
    texts = [
        "the quick brown fox jumps over the lazy dog",
        "xy",  # shorter than k: single whole-prefix gram
        "aaaaaaaaaaaaaaaaaaaa",  # degenerate repeats
        "pack my box with five dozen liquor jugs",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    arr = {
        r.doc_id: set(r.fp)
        for r in df.selectExpr(
            "doc_id", f"{winnow_fingerprints('`text`', k=K, w=W)} AS fp"
        ).collect()
    }
    assert _fp_sets(spark, texts) == arr


def test_shared_substring_guarantee(spark):
    """Winnowing guarantee: a shared substring of >= k + w - 1 chars
    contributes at least one shared fingerprint."""
    shared = "unmistakable common passage"  # 27 chars >= k + w - 1 = 10
    fps = _fp_sets(
        spark,
        [
            f"alpha opening text {shared} tail one",
            f"completely different head {shared} other ending",
            "no overlap with the others at all here",
        ],
    )
    assert fps[0] & fps[1], "shared substring must share a fingerprint"
    # the unrelated doc should share far less with either
    assert len(fps[0] & fps[2]) < len(fps[0] & fps[1])


def test_fingerprints_are_deterministic(spark):
    texts = ["determinism check text body for winnowing"]
    assert _fp_sets(spark, texts) == _fp_sets(spark, texts)
