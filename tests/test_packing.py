"""Distributed prefix-sum + document packing tests."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from qurious_spark.operators.packing import global_running_sum, pack_documents
from qurious_spark.operators.sampling import _slot

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    from qurious_spark.functions.text import token_count
    from qurious_spark.sources.readers import read_parquet

    return (
        read_parquet(spark, f"{SF}/documents.parquet")
        .selectExpr("doc_id", f"{token_count('`text`')} AS tok")
        .cache()
    )


def test_prefix_sum_matches_global_window(spark, docs):
    got = {
        r.doc_id: r.cum
        for r in global_running_sum(docs, "tok", _slot("doc_id"), "doc_id", 7).collect()
    }
    w = Window.orderBy(_slot("doc_id"), F.col("doc_id")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    want = {r.doc_id: r.cum for r in docs.withColumn("cum", F.sum("tok").over(w)).collect()}
    assert got == want


def test_prefix_sum_bucket_count_invariant(spark, docs):
    a = {r.doc_id: r.cum for r in global_running_sum(docs, "tok", _slot("doc_id"), "doc_id", 1).collect()}
    b = {r.doc_id: r.cum for r in global_running_sum(docs, "tok", _slot("doc_id"), "doc_id", 64).collect()}
    assert a == b


def test_packing_bins_are_contiguous_and_bounded(spark, docs):
    ctx = 500
    packed = pack_documents(docs, "tok", ctx_len=ctx).collect()
    assert len(packed) == docs.count()  # every doc exactly one bin
    per_bin = {}
    max_tok = 0
    for r in packed:
        per_bin[r.bin_id] = per_bin.get(r.bin_id, 0) + r.tok
        max_tok = max(max_tok, r.tok)
    bins = sorted(per_bin)
    assert bins == list(range(bins[0], bins[-1] + 1))  # contiguous ids
    # a bin overflows by at most one straddling/oversized document
    assert all(t <= ctx + max_tok for t in per_bin.values())
    # bins are well-filled: every non-final bin reaches past its start
    for b in bins[:-1]:
        assert per_bin[b] > 0
