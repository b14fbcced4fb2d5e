"""Registry builds start no Spark job.

A registry entry's build returns a lazy plan. A job started while building
(a count, a collect, an eager checkpoint) runs before the query's own plan
exists and pays Spark's per-job floor on every call; it also hides part of
the query from ``EXPLAIN``. Only the entries below may start jobs, each for
the reason given.
"""

from __future__ import annotations

import pytest

import qurious_spark.queries as q
from qurious_spark.queries.dedup import doc_stream_stage
from qurious_spark.queries.events import _staged_events_dir
from tests.conftest import SF_SMOKE, job_ids

BUILD_JOBS_ALLOWED = {
    "ann_pq_topk": "the row count sizes the shortlist; k-means trains the PQ codebooks",
    "dedup_clusters": "connected components checks convergence after every round",
    "dedup_resolve": "connected components checks convergence after every round",
    "embedding_dup_clusters": "connected components checks convergence after every round",
    "dedup_incremental": "spread's partition probe (df.rdd) runs the split's max subquery, once per session",
    "embedding_cosine_pairs": "the O(N^2) guard counts up to max_rows + 1 rows",
    "heavy_hitters_ngrams": "min_count mode sizes the Misra-Gries capacity from n",
    "pipeline_mix_corpora": "each source's row count sets its sample quota",
    "dml_scd2_dimension": "SCD2 rejects duplicate or NULL update keys before merging",
    "dml_update_from": "MERGE runs its join once and checks cardinality over the result",
    "merge_upsert": "MERGE runs its join once and checks cardinality over the result",
    "source_csv_roundtrip": "COPY TO writes the files the query then reads",
    "source_ndjson_roundtrip": "COPY TO writes the files the query then reads",
    "source_orc_roundtrip": "COPY TO writes the files the query then reads",
    "dml_scd2_stream": "each build writes the update batch its stream reads",
    "events_stream_heavy_hitters": "counts events on the driver for its ratio threshold",
}


@pytest.fixture(scope="module")
def registry(spark):
    q.load_all()
    q.ensure_views(spark, SF_SMOKE)
    # the stream entries read copies of events and documents that the first
    # of them to build in a session writes
    _staged_events_dir(spark, SF_SMOKE)
    doc_stream_stage(spark, SF_SMOKE)
    return q.REGISTRY


def test_registry_builds_start_no_job(spark, registry):
    assert set(BUILD_JOBS_ALLOWED) <= set(registry)
    started = {}
    for name in sorted(set(registry) - set(BUILD_JOBS_ALLOWED)):
        with job_ids(spark, f"build-jobs:{name}") as ids:
            registry[name](spark, SF_SMOKE)
        if ids:
            started[name] = len(ids)
    assert started == {}


def test_doc_stream_schema_equals_inference(spark):
    d, schema = doc_stream_stage(spark, SF_SMOKE)
    assert schema == spark.read.parquet(d).schema


def test_dedup_incremental_equals_driver_split(spark, registry):
    """The split at the max doc id is a subquery in the plan; the rows
    must equal the split at the collected constant."""
    from pyspark.sql import functions as F

    from qurious_spark.operators import dedup as D
    from qurious_spark.queries.dedup import THRESH

    docs = q.table(spark, SF_SMOKE, "documents")
    mid = docs.agg(F.max("doc_id")).collect()[0][0]
    eager = D.incremental_near_dups(
        docs.filter(F.col("doc_id") * 2 > mid),
        docs.filter(F.col("doc_id") * 2 <= mid),
        threshold=THRESH,
    )
    got = registry["dedup_incremental"](spark, SF_SMOKE)
    assert got.schema == eager.schema
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, eager.collect()))
