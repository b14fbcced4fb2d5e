"""Corpus mixing: weighted, deterministic interleave of multiple sources.

Training runs consume a MIXTURE — N corpora with target proportions. This
operator samples each source at the rate its weight implies and interleaves
the survivors in a deterministic pseudo-random order, all engine-neutral
(md5 arithmetic), so a mixture is exactly reproducible anywhere — and
oracle-checkable.

Scale shape: per source, one count + one narrow hash-threshold filter
(no shuffle, no window — the same slot trick as
operators/sampling.stratified_sample_hash); the interleave order is a
column (``mix_slot``), NOT a global sort — downstream consumers sort
within whatever partition granularity they read (or range-partition by
mix_slot for a fully shuffled layout).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from qurious_spark.functions.text import md5_int
from qurious_spark.operators.sampling import HASH_M, _slot_sql


def mix_corpora(
    sources: list[tuple[DataFrame, float]],
    id_col: str,
    target_total: int,
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Union of weighted samples: source i contributes ~``target_total *
    w_i / sum(w)`` rows (all of it when the source is smaller than its
    quota). Adds ``src`` (source index) and ``mix_slot`` (deterministic
    interleave key: md5 of src-qualified id).

    Selection per source is the hash-threshold rule: keep rows whose md5
    slot < ceil(HASH_M * quota / n_i) — deterministic, no shuffle.
    """
    total_w = sum(w for _, w in sources)
    out = None
    for i, (df, w) in enumerate(sources):
        quota = target_total * w / total_w
        n = df.count()
        # an empty source still contributes its (empty) slice so the output
        # schema exists even when EVERY source is empty — a cold-start or
        # fully-filtered pipeline stage must yield an empty mixture, not a
        # raise (tools/empty_sweep.py)
        thr = 0 if n == 0 else min(HASH_M, -(-HASH_M * quota // n))  # ceil, capped
        cols = keep_cols or df.columns
        mix_key = f"concat_ws('#', {i}, CAST(`{id_col}` AS STRING))"
        part = (
            df.where(f"{_slot_sql(id_col)} < {int(thr)}")
            .select(*cols)
            .withColumn("src", F.lit(i).cast("bigint"))
            .withColumn("mix_slot", F.expr(f"{md5_int(mix_key)} % {HASH_M}"))
        )
        out = part if out is None else out.unionByName(part)
    if out is None:
        raise ValueError("mix_corpora: no sources given")
    return out
