"""Incremental rollup: stream micro-batches MERGE into a managed table.

The production pattern for continuously-maintained aggregate tables: each
micro-batch computes its PARTIAL aggregate (tiny — one row per key seen in
the batch), then upserts it into a persistent rollup table with MERGE INTO
(matched keys accumulate, new keys insert). The rollup table stays
queryable at every point; state lives in the table, not in stream memory —
so the streaming query itself is stateless (no watermark, no state store),
and a restart resumes from the sink's offsets.

Composes two engine pieces: the checkpointed ``foreachBatch`` sink and the
Session's MERGE executor (one full outer join of the table with the batch's
partial aggregate, materialized per batch, so the table stays a flat scan).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from qurious_spark.checkpoint import checkpoint as _checkpoint


def incremental_count_rollup(
    stream: DataFrame,
    session,
    table_name: str,
    key_col: str,
    value_col: str,
    checkpoint: str,
) -> None:
    """Maintain ``table_name(key, n_events, total_value)`` from a stream,
    exactly-once per micro-batch via MERGE. Drains with availableNow.

    The managed table must exist (CREATE TABLE ... (key ..., n_events
    BIGINT, total_value <any additive numeric — DOUBLE or DECIMAL>));
    key/value columns are renamed into it. The accumulator arithmetic is
    type-agnostic: events_stream_rollup_merge declares DECIMAL(38,2) for
    exact money totals.
    """

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        part = batch_df.groupBy(F.col(key_col).alias("key")).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(value_col).alias("v"),
        )
        # materialize: the rollup table's lazy plan must reference THIS
        # batch's rows, not a later re-computation of the streaming source
        # (also detaches the frame from the micro-batch's cloned session)
        part = _checkpoint(part, eager=True)
        # <=> (null-safe): a NULL grouping key is ONE group, like GROUP BY —
        # an equi-join ON would never match it and every batch would insert
        # a fresh NULL-key row. The total_value CASE mirrors SUM's
        # null-skipping across batches: NULL + x must accumulate to x, and
        # a key whose values are all NULL keeps a NULL total (found by
        # tests/test_streaming_rollup_property.py).
        session.merge_into(
            f"""
            MERGE INTO {table_name} t USING __batch s ON t.key <=> s.key
            WHEN MATCHED THEN UPDATE SET
                n_events = t.n_events + s.n,
                total_value = CASE
                    WHEN t.total_value IS NULL THEN s.v
                    WHEN s.v IS NULL THEN t.total_value
                    ELSE t.total_value + s.v END
            WHEN NOT MATCHED THEN INSERT (key, n_events, total_value)
                                  VALUES (s.key, s.n, s.v)
            """,
            source_df=part,
        )

    q = (
        stream.writeStream.foreachBatch(upsert)
        .trigger(availableNow=True)
        .option("checkpointLocation", checkpoint)
        .start()
    )
    q.awaitTermination()
