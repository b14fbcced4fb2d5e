"""Streaming deduplication: exact near-real-time dedup over a document stream.

Batch dedup (operators/dedup.py) has a streaming sibling for ingest
pipelines: fingerprint each arriving document (md5 of normalized text — the
same 32-byte key the batch operator shuffles) and drop repeats.

Two state regimes, both standard Structured Streaming:

- ``stream_dedup_exact``: ``dropDuplicates`` on the fingerprint — state grows
  with distinct keys forever; right when the corpus fits state storage or the
  stream is drained in bounded ``availableNow`` runs.
- ``stream_dedup_within_watermark``: ``dropDuplicatesWithinWatermark`` —
  state is purged once the event-time watermark passes, so memory is bounded;
  right for endless ingest where duplicates arrive close together in time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from qurious_spark.functions.text import fingerprint


def _with_fingerprint(stream: DataFrame, text_col: str) -> DataFrame:
    return stream.withColumn("__fp", F.expr(fingerprint(f"`{text_col}`")))


def stream_dedup_exact(stream: DataFrame, text_col: str = "text") -> DataFrame:
    """Keep one row per distinct normalized-text fingerprint (unbounded state)."""
    return _with_fingerprint(stream, text_col).dropDuplicates(["__fp"]).drop("__fp")


def stream_dedup_within_watermark(
    stream: DataFrame,
    text_col: str = "text",
    ts_col: str = "ts",
    delay: str = "10 minutes",
) -> DataFrame:
    """Watermark-bounded dedup: duplicates arriving within ``delay`` of each
    other are dropped; state older than the watermark is purged."""
    return (
        _with_fingerprint(stream, text_col)
        .withWatermark(ts_col, delay)
        .dropDuplicatesWithinWatermark(["__fp"])
        .drop("__fp")
    )
