"""Document chunking: split long documents into fixed-size token windows.

The prep step every LLM training pipeline runs before tokenization/packing:
long documents become overlapping chunks of at most ``chunk_size`` tokens
with ``overlap`` tokens shared between consecutive chunks.

Greenfield operator (no reference counterpart — the reference engine,
qurious/src/logical/plan/mod.rs:50-71, has no text surface at all); designed
Spark-first:

- tokenization (functions/text.py ``tokens``), window-start generation
  (``sequence``) and slicing (``slice`` + ``array_join``) are all built-in
  JVM expressions, written as SQL text — no Python in the hot path,
  whole-stage codegen applies end-to-end;
- the explode multiplies rows ~n_tokens/stride per doc, but each output row
  carries only (doc_id, chunk_idx, chunk text) — there is no shuffle at all
  unless the caller adds one downstream, so the operator scales linearly
  with corpus size at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from qurious_spark.functions.text import tokens


def chunk_documents(
    docs: DataFrame,
    text_col: str = "text",
    id_cols: tuple[str, ...] = ("doc_id",),
    chunk_size: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """Split ``text_col`` into overlapping token-window chunks.

    Chunk starts are 1-based token offsets ``1, 1+stride, 1+2*stride, ...``
    with ``stride = chunk_size - overlap``, up to ``max(n_tokens - overlap,
    1)`` so the final chunk still holds at least ``overlap + 1`` tokens
    (empty documents yield one empty chunk). Output columns: the id
    columns, ``chunk_idx`` (0-based), ``chunk`` (space-joined token slice),
    ``n_chunk_tokens``.
    """
    if overlap >= chunk_size:
        raise ValueError("overlap must be < chunk_size")
    stride = chunk_size - overlap
    # NULL text behaves like an empty document (one empty chunk) instead of
    # propagating NULL through size() (-1 under legacy sizeOfNull) and the
    # window arithmetic
    toks = tokens(f"coalesce(`{text_col}`, '')")
    starts = f"sequence(1, greatest(size({toks}) - {overlap}, 1), {stride})"
    ids = [f"`{c}`" for c in id_cols]
    piece = f"slice(__toks, __start, {chunk_size})"
    return docs.selectExpr(
        *ids, f"{toks} AS __toks", f"posexplode({starts}) AS (chunk_idx, __start)"
    ).selectExpr(
        *ids,
        "CAST(chunk_idx AS BIGINT) AS chunk_idx",
        f"array_join({piece}, ' ') AS chunk",
        f"CAST(size({piece}) AS BIGINT) AS n_chunk_tokens",
    )
