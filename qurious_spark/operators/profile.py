"""Column profiling: per-column statistics in ONE scan.

Data profiling is the first step of any ingest pipeline — row counts, null
rates, cardinalities, ranges — and the naive implementation scans the table
once per column. This operator computes every column's statistics in a
single aggregation pass (one scan, one partial+final agg, no shuffle wider
than one row) and unpivots the single result row into a (column, stats)
long format with a stack() projection — driver never sees row data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_NUMERIC = ("tinyint", "smallint", "int", "bigint", "float", "double")


def profile(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Per-column stats: ``(col_name, n_rows, n_nulls, n_distinct, min_v,
    max_v, avg_v)`` — numeric min/max/avg as doubles, NULL for non-numeric
    columns. One scan regardless of column count."""
    dtypes = dict(df.dtypes)
    cols = list(cols or df.columns)
    # positional (index-based) aliases: the source column name appears only
    # as a backtick-quoted identifier in the aggregates and an escaped
    # literal in stack(), so names containing quotes/spaces/dots profile fine
    aggs = ["count(1) AS __n"]
    for i, c in enumerate(cols):
        q = "`" + c.replace("`", "``") + "`"
        is_num = dtypes[c] in _NUMERIC or dtypes[c].startswith("decimal")
        aggs.append(f"CAST(sum(CASE WHEN {q} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS __nulls_{i}")
        aggs.append(f"CAST(count(DISTINCT {q}) AS BIGINT) AS __nd_{i}")
        for stat in ("min", "max", "avg"):
            v = f"{stat}({q})" if is_num else "NULL"
            aggs.append(f"CAST({v} AS DOUBLE) AS __{stat}_{i}")
    one = df.selectExpr(*aggs)
    stack_args = []
    for i, c in enumerate(cols):
        lit = c.replace("\\", "\\\\").replace("'", "''")
        stack_args.append(f"'{lit}', __nulls_{i}, __nd_{i}, __min_{i}, __max_{i}, __avg_{i}")
    stacked = one.selectExpr(
        "__n AS n_rows",
        f"stack({len(cols)}, "
        + ", ".join(stack_args)
        + ") AS (col_name, n_nulls, n_distinct, min_v, max_v, avg_v)",
    )
    return stacked.select(
        "col_name", "n_rows", "n_nulls", "n_distinct", "min_v", "max_v", "avg_v"
    )
