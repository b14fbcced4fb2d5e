"""DuckDB oracle: expected results and the comparison the benchmark checks.

Query operations compare against the registry's own oracle SQL
(``__spark_entry__.oracle_sql()``) on the same parquet files. Answers are
cached under the input checksum, since the inputs never change between
runs of one scale factor. DML streams are replayed statement by statement
into DuckDB by the workload, which compares every read.
"""

from __future__ import annotations

import decimal
import hashlib
import json
import math
import os

import duckdb

from perfbench.datagen import TABLES

REL_TOL = 1e-9
ABS_TOL = 1e-6


def connect(data_dir: str) -> duckdb.DuckDBPyConnection:
    """In-memory DuckDB with one view per input table, in UTC like Spark."""
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(data_dir, t)}.parquet'"
        )
    return con


def normalize_cell(v):
    """A JSON-safe, engine-neutral form of one result cell."""
    if v is None or isinstance(v, (bool, int, str)):
        return v
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (list, tuple)):
        return [normalize_cell(x) for x in v]
    if isinstance(v, dict):
        return {str(k): normalize_cell(x) for k, x in sorted(v.items())}
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if hasattr(v, "asDict"):
        return normalize_cell(v.asDict())
    return str(v)


def _sort_key(row):
    return tuple(
        (x is None, str(round(x, 6)) if isinstance(x, float) else str(x)) for x in row
    )


def normalize(columns: list[str], rows) -> tuple[list[str], list[list]]:
    """Columns sorted by name; rows reordered to match and sorted, so
    results compare without regard to column or row order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [[normalize_cell(row[i]) for i in order] for row in rows]
    out.sort(key=_sort_key)
    return [columns[i] for i in order], out


def _same(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, (int, float)) and not isinstance(b, bool):
        return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=ABS_TOL)
    if isinstance(b, float) and isinstance(a, int) and not isinstance(a, bool):
        return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=ABS_TOL)
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b


def mismatch(got: tuple[list[str], list[list]], want: tuple[list[str], list[list]]) -> str | None:
    """Why two normalized results differ, or None when they agree. An
    empty expected result is a failure too: it would check nothing."""
    (gc, gr), (wc, wr) = got, want
    if gc != wc:
        return f"columns differ: got {gc}, want {wc}"
    if len(gr) != len(wr):
        return f"row count differs: got {len(gr)}, want {len(wr)}"
    if not wr:
        return "vacuous: the oracle returns 0 rows"
    for i, (a, b) in enumerate(zip(gr, wr)):
        if not _same(a, b):
            return f"{sum(not _same(x, y) for x, y in zip(gr, wr))}/{len(wr)} rows differ; first at {i}: got {a}, want {b}"
    return None


class QueryOracle:
    """Expected result per registry query, computed once per input set."""

    def __init__(self, data_dir: str, cache_dir: str, checksum: str):
        import __spark_entry__

        self.sql = __spark_entry__.oracle_sql()
        self.data_dir = data_dir
        self.cache_dir = os.path.join(cache_dir, checksum)
        self._con: duckdb.DuckDBPyConnection | None = None
        self._memo: dict[str, tuple[list[str], list[list]]] = {}

    def expected(self, name: str) -> tuple[list[str], list[list]]:
        if name in self._memo:
            return self._memo[name]
        sql = self.sql[name]
        digest = hashlib.sha256(sql.encode()).hexdigest()[:16]
        path = os.path.join(self.cache_dir, f"{name}-{digest}.json")
        try:
            with open(path) as f:
                cols, rows = json.load(f)
        except (OSError, ValueError):
            if self._con is None:
                self._con = connect(self.data_dir)
            rel = self._con.sql(sql)
            cols, rows = normalize(list(rel.columns), rel.fetchall())
            os.makedirs(self.cache_dir, exist_ok=True)
            with open(path + ".tmp", "w") as f:
                json.dump([cols, rows], f)
            os.replace(path + ".tmp", path)
        self._memo[name] = (cols, rows)
        return cols, rows

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None
