"""Heavy hitters: exact frequent-key detection without a full-key shuffle.

The naive plan — ``groupBy(key).count().filter(freq >= r*n)`` — shuffles
every distinct key; at 100 TB with high-cardinality keys (user ids, URLs)
the shuffle IS the cost even though the answer is a handful of rows. This
operator uses the classic two-pass trick:

1. **Candidates** (narrow, zero shuffle): each input partition runs a
   Misra-Gries / Space-Saving summary with ``capacity`` counters over
   Arrow batches (vectorized ``value_counts`` per batch + the mergeable-
   summaries decrement rule of Agarwal et al., "Mergeable Summaries").
   Pigeonhole guarantee: any key with global frequency > n/capacity
   exceeds the per-partition threshold in at least one partition, so the
   union of partition candidates is a SUPERSET of the true heavy hitters
   for threshold ratio >= 1/capacity (we default capacity = 2/ratio for
   margin). Candidate volume is <= capacity * numPartitions rows, not
   the distinct-key count.
2. **Exact recount** (tiny shuffle): broadcast-semi-join the input to the
   candidate keys, exact-count only those, keep freq >= ratio * n (n a
   cross-joined one-row count, so the whole operator is one lazy plan).

The result is EXACT (no false positives or negatives), which is what
makes it DuckDB-oracle-able — the approximation only bounds the candidate
set size.

Beyond-reference scope (the reference has only exact COUNT/SUM/MIN/MAX/AVG,
qurious/src/logical/expr/aggregate.rs:59-65).
"""

from __future__ import annotations

import math
from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from qurious_spark.session import _literal


def mg_add(counters, vc, capacity: int):
    """Merge a batch's value_counts into a Misra-Gries summary: add, then
    subtract the (capacity+1)-th largest count from everyone and drop the
    non-positive (the mergeable-summaries decrement rule). Shared with the
    streaming variant (streaming/heavyhitters.py)."""
    counters = vc if counters is None else counters.add(vc, fill_value=0)
    if len(counters) > capacity:
        kth = counters.nlargest(capacity + 1).iloc[-1]
        counters = counters - kth
        counters = counters[counters > 0]
    return counters


def _mg_candidates(key_col: str, capacity: int):
    """mapInPandas fn: one Misra-Gries summary per partition."""
    import pandas as pd

    def fn(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        counters: "pd.Series | None" = None
        for pdf in batches:
            counters = mg_add(counters, pdf[key_col].value_counts(), capacity)
        if counters is not None and len(counters):
            yield pd.DataFrame({key_col: counters.index})

    return fn


def heavy_hitters(
    df: DataFrame,
    key_col: str,
    min_freq_ratio: float | None = None,
    capacity: int | None = None,
    min_count: int | None = None,
) -> DataFrame:
    """Exact keys with frequency >= min_freq_ratio * count(df), or — when
    ``min_count`` is given instead — frequency >= min_count (an ABSOLUTE
    threshold, e.g. a document-frequency floor computed from a different
    table, so the threshold doesn't shrink with the key-stream size; the
    final filter is then an exact integer compare, immune to float-tie
    divergence against the oracle).

    Returns (key_col, freq bigint). ``capacity`` is the per-partition
    counter budget (default 2/effective-ratio — must be >= 1/ratio for
    the superset guarantee; in min_count mode the effective ratio is
    min_count / count(df), so capacity stays O(n/min_count) and scales
    with the data automatically).

    In ratio mode ``n = count(df)`` stays in the plan, a one-row count
    cross-joined under the final filter, so building the result starts no
    Spark job.
    ``min_count`` mode sizes ``capacity`` from n on the driver: one count
    job at build.
    """
    if (min_freq_ratio is None) == (min_count is None):
        raise ValueError("pass exactly one of min_freq_ratio / min_count")
    keyed = df.select(key_col)
    if min_count is not None:
        if min_count < 1:
            raise ValueError("min_count must be >= 1")
        effective_ratio = min(1.0, float(min_count) / max(df.count(), 1))
    else:
        if not (0 < min_freq_ratio <= 1):
            raise ValueError("min_freq_ratio must be in (0, 1]")
        effective_ratio = min_freq_ratio
    capacity = capacity or math.ceil(2.0 / effective_ratio)
    if capacity < math.ceil(1.0 / effective_ratio):
        raise ValueError("capacity below 1/ratio loses the superset guarantee")
    schema = keyed.schema
    candidates = (
        keyed.mapInPandas(_mg_candidates(key_col, capacity), schema=schema)
        .distinct()
    )
    counted = (
        keyed.join(F.broadcast(candidates), key_col, "left_semi")
        .groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    if min_count is not None:
        return counted.filter(F.col("freq") >= F.lit(int(min_count)))
    # n from a one-row aggregate, cross-joined: its broadcast runs alongside
    # the candidate stages (a scalar subquery would wait for them), and the
    # filter takes the same double product ratio * n the oracle compares
    n = keyed.selectExpr("count(1) AS __n")
    return (
        counted.crossJoin(n)
        .where(f"CAST(freq AS DOUBLE) >= {_literal(float(min_freq_ratio))} * __n")
        .drop("__n")
    )
