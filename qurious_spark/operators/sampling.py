"""Deterministic stratified sampling for training-data curation.

Random `df.sample()` is irreproducible across runs/partitionings, and exact
k-per-stratum via a row_number window funnels each stratum through a single
task — a billion-row stratum becomes one sort on one executor. Two
deterministic, engine-neutral (md5-ordered) alternatives:

- ``stratified_sample_hash`` (the 100 TB path): per-stratum counts (tiny,
  broadcast back) set a hash threshold so that rows with
  ``md5(id) % M < M * target/count`` survive. One narrow aggregate + one
  map-side filter — no window, no per-stratum sort, skew-immune. Yields
  ~target rows per stratum (binomial jitter), and the selected *set* is
  stable: growing ``target`` only adds rows, never swaps them (the
  threshold family is nested).
- ``stratified_topk_exact``: exactly k per stratum by md5 order via
  row_number — correct when strata are modest (the window sorts each
  stratum in one task).

Both orderings use the shared md5→bigint digest (functions/text.py md5_int),
so the DuckDB oracle reproduces the exact row set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from qurious_spark.functions.text import md5_int

# Hash-space modulus; divides rows into M deterministic slots.
HASH_M = 1_000_000


def _slot_sql(id_col: str) -> str:
    return f"{md5_int(f'CAST(`{id_col}` AS STRING)')} % {HASH_M}"


def _slot(id_col: str) -> F.Column:
    return F.expr(_slot_sql(id_col))


def stratified_sample_hash(
    df: DataFrame, stratum_col: str, id_col: str, target_per_stratum: int
) -> DataFrame:
    """~target rows per stratum, deterministic, no window (see module doc)."""
    counts = df.groupBy(stratum_col).agg(F.count("*").alias("__n"))
    thresholds = counts.select(
        stratum_col,
        F.least(
            F.lit(HASH_M),
            F.ceil(F.lit(HASH_M) * F.lit(target_per_stratum) / F.col("__n")),
        ).alias("__t"),
    )
    return (
        df.join(F.broadcast(thresholds), stratum_col)
        .filter(_slot(id_col) < F.col("__t"))
        .drop("__t")
    )


def stratified_topk_exact(
    df: DataFrame, stratum_col: str, id_col: str, k: int
) -> DataFrame:
    """Exactly min(k, |stratum|) rows per stratum, md5-ordered."""
    w = Window.partitionBy(stratum_col).orderBy(
        _slot(id_col).asc(), F.col(id_col).asc()
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def weighted_sample_ares(
    df: DataFrame,
    weight_col: str,
    id_col: str,
    k: int,
    stratum_col: str | None = None,
) -> DataFrame:
    """Deterministic weighted sampling without replacement (Efraimidis-
    Spirakis A-RES): each row draws a reproducible uniform u from the md5
    hash of its id and ranks by key = u^(1/w) — the top-k keys are a
    weighted sample, rows with larger ``weight_col`` proportionally more
    likely. With ``stratum_col``, k rows per stratum (partitioned window);
    without, a global top-k (TakeOrderedAndProject — no single-partition
    window).

    Determinism: u is hash-derived (no RNG state), the key is rounded to 9
    decimals before ranking, and ties break on id — so any engine computing
    the same arithmetic selects the same set (the DuckDB oracle does).

    Rows with NULL or non-positive weight are excluded up front — the A-RES
    key u^(1/w) is undefined there (w=0 → u^inf = 0 silently never sampled,
    w<0 → keys > 1 that always rank first, NULL → NULL key), so dropping
    them is the only behavior that keeps the sample well-defined.
    """
    df = df.filter(F.col(weight_col).isNotNull() & (F.col(weight_col) > 0))
    u = f"({_slot_sql(id_col)} + 0.5D) / {float(HASH_M)}D"
    keyed = df.withColumn(
        "__key", F.expr(f"round(power({u}, 1.0D / CAST(`{weight_col}` AS DOUBLE)), 9)")
    )
    if stratum_col is not None:
        w = Window.partitionBy(stratum_col).orderBy(
            F.col("__key").desc(), F.col(id_col).asc()
        )
        return (
            keyed.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= k)
            .drop("__rn", "__key")
        )
    return (
        keyed.orderBy(F.col("__key").desc(), F.col(id_col).asc())
        .limit(k)
        .drop("__key")
    )
