"""Vector expressions (array<float|double>) as Spark SQL text.

Every function returns a SQL fragment, and its arguments are SQL fragments
too (quote column names with backticks). Callers hand the text to
``selectExpr``, ``F.expr`` or ``where``: one py4j round trip per
expression, where a Column built from Python lambdas or per-dimension
``getItem`` calls costs several per lambda or term. The math stays in JVM
expressions (no UDF), is done in double (inputs cast) and sums fold left
to right, so the DuckDB oracle can replicate results exactly.

``dim`` picks the form of a sum. With ``dim`` given, the terms are written
out one by one (``a[0]`` .. ``a[dim-1]``): plain arithmetic that
whole-stage codegen compiles, ~10x faster on the cross-join hot path than
the interpreted ``zip_with``/``aggregate`` fold used when ``dim`` is None.
Both forms add in the same order, so on double input they give
bit-identical results (pin: tests/test_similarity.py::test_unrolled_sql_twins).
"""

from __future__ import annotations

_ZERO = "CAST(0.0 AS DOUBLE)"


def as_double_sql(vec: str) -> str:
    return f"transform({vec}, x -> CAST(x AS DOUBLE))"


def dot_sql(a: str, b: str, dim: int | None = None) -> str:
    """Sequential-order dot product (matches DuckDB list_dot_product)."""
    if dim is None:
        return f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), {_ZERO}, (acc, v) -> acc + v)"
    terms = [f"CAST({a}[{i}] AS DOUBLE) * CAST({b}[{i}] AS DOUBLE)" for i in range(dim)]
    return "(" + " + ".join([_ZERO, *terms]) + ")"


def norm_sq_sql(a: str, dim: int | None = None) -> str:
    if dim is None:
        return f"aggregate({a}, {_ZERO}, (acc, v) -> acc + v * v)"
    return dot_sql(a, a, dim)


def l2_norm_sql(a: str, dim: int | None = None) -> str:
    return f"sqrt({norm_sq_sql(a, dim)})"


def cosine_sql(a: str, b: str, dim: int | None = None) -> str:
    """cosine = dot / (sqrt(|a|^2) * sqrt(|b|^2)); 0.0 for zero vectors."""
    denom = f"{l2_norm_sql(a, dim)} * {l2_norm_sql(b, dim)}"
    return f"CASE WHEN {denom} > 0 THEN {dot_sql(a, b, dim)} / ({denom}) ELSE {_ZERO} END"


def l2_sq_sql(a: str, b: str) -> str:
    """Squared L2 distance between two arrays of equal length."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), {_ZERO}, "
        f"(acc, v) -> acc + v)"
    )
