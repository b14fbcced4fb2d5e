"""Embedding quantization: symmetric int8 compression + reconstruction error.

Vector stores at 100 TB scale keep embeddings int8-quantized (4x smaller
than float32, ~16x smaller than float64) and only rehydrate for re-ranking.
This operator computes, per vector, the symmetric scale ``max(|x|)/127``,
the quantized codes, and the reconstruction MSE — the metric that decides
whether int8 is acceptable for a given embedding family.

Greenfield (no reference counterpart; the reference has no array types at
all — SURVEY §1.2 "No nested types"). Spark-first: everything is
``transform`` / ``aggregate`` higher-order array expressions over the
native ``array<float>`` column, written as SQL text (``x -> …``, doubles
with a ``D`` suffix) — map-only, no shuffle, no Python UDF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def quantize_int8(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Per-vector quantization result: ``id_col``, ``scale`` (double),
    ``codes`` (array<int> in [-127, 127]) and ``mse`` (reconstruction mean
    squared error, double). Other input columns are dropped — join back on
    ``id_col`` to re-attach them.

    All-zero vectors get scale 0 and all-zero codes (division guarded).
    """
    vec = f"transform(`{vec_col}`, x -> CAST(x AS DOUBLE))"
    scale = f"array_max(transform({vec}, x -> abs(x))) / 127.0D"
    safe = f"CASE WHEN {scale} = 0.0D THEN 1.0D ELSE {scale} END"
    codes = f"transform({vec}, x -> CAST(round(x / {safe}) AS INT))"
    recon = f"zip_with({codes}, {vec}, (c, x) -> CAST(c AS DOUBLE) * {safe} - x)"
    mse = f"aggregate({recon}, 0.0D, (acc, e) -> acc + e * e) / size({vec})"
    return df.selectExpr(
        f"`{id_col}`", f"{scale} AS scale", f"{codes} AS codes", f"{mse} AS mse"
    )
