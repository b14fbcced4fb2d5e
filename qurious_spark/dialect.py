"""SQL dialect shim.

The reference accepts a PostgreSQL-ish dialect with a few constructs vanilla
Spark SQL lacks (SURVEY.md §7.1):

- table functions in FROM: ``read_csv('p', delimiter=>'|')``, ``read_json``,
  ``read_parquet`` (reference: qurious/src/planner/sql.rs:751-774,
  session.rs:169-192) — rewritten here to registered temp views;
- ``COPY <table> FROM|TO '<file>' (FORMAT CSV, DELIMITER '|', HEADER)``
  (reference: qurious/src/planner/sql.rs:324-375);
- DDL/DML against managed in-memory tables (CREATE/DROP/INSERT/DELETE/UPDATE/
  MERGE, reference: session.rs:128-151, 217-246) — parsed here, executed by
  ``Session``;
- trailing commas in CREATE TABLE column lists
  (reference fixture: tests/tpch/create_tables.slt:10 ends ``s_rev VARCHAR,)``).

Spark 4 natively supports ``expr::TYPE`` casts, typed literals
(``DATE '1998-09-02'``), INTERVAL arithmetic, EXTRACT, and Kleene AND/OR, so
none of those need rewriting.

This is a deliberately small pre-parser, not a SQL parser: every statement it
does not recognize is passed through to Spark SQL untouched. Regexes match
statement heads; finding a clause keyword, splitting a comma list and finding
the ``)`` that closes a list or subquery all go through one scanner,
``_scan``. Quoted spans are ``'…'`` (``''`` escapes a quote), ``"…"`` and
```…```, and no keyword, comma or paren inside one counts; parens outside
them nest. The scanner does not parse comments (``--``, ``/* */``),
backslash escapes or dollar quoting: their characters count as plain text.
``_sub_unquoted`` (used by the Session's rewrites) substitutes outside quotes.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field


@dataclass
class DdlDmlStatement:
    kind: str  # create_table | drop_table | insert | delete | update | copy_from | copy_to | merge
    table: str = ""
    if_exists: bool = False
    if_not_exists: bool = False
    columns: list[tuple[str, str, object]] | None = None  # (name, spark_type, default)
    columns_list: list[str] | None = None  # INSERT (col, ...) subset
    query: str = ""
    predicate: str | None = None
    assignments: dict[str, str] = field(default_factory=dict)
    path: str = ""
    options: dict[str, object] = field(default_factory=dict)
    # MERGE-only fields
    alias: str | None = None
    source: str = ""  # table name or subquery text
    source_is_query: bool = False
    source_alias: str | None = None
    on_cond: str = ""
    clauses: list["MergeClause"] = field(default_factory=list)


@dataclass
class MergeClause:
    """One WHEN [NOT] MATCHED [AND cond] THEN <action> arm, in statement
    order (first matching arm wins, per the SQL standard)."""

    matched: bool
    cond: str | None  # the AND refinement, if any
    action: str  # update | delete | insert
    assignments: dict[str, str] = field(default_factory=dict)  # update
    insert_columns: list[str] | None = None  # insert; None = INSERT *
    insert_values: list[str] | None = None  # insert; None = INSERT *


# SQL type -> Spark type, per the reference mapping
# (qurious/src/planner/sql.rs:1439-1477 sql_to_arrow_data_type; SURVEY.md §1.2).
_TYPE_MAP = {
    "BOOLEAN": "boolean",
    "BOOL": "boolean",
    "SMALLINT": "smallint",
    "INT": "bigint",  # reference maps INT/INTEGER to Int64 (sql.rs:1441)
    "INTEGER": "bigint",
    "BIGINT": "bigint",
    "FLOAT": "double",  # reference maps FLOAT to Float64 (sql.rs:1443)
    "DOUBLE": "double",
    "VARCHAR": "string",
    "TEXT": "string",
    "STRING": "string",
    "DATE": "date",
    "TIMESTAMP": "timestamp",
}


def map_sql_type(sql_type: str) -> str:
    t = sql_type.strip().upper()
    m = re.match(r"DECIMAL\s*\(\s*(\d+)\s*,\s*(\d+)\s*\)", t)
    if m:
        p, s = int(m.group(1)), int(m.group(2))
        # Reference maps p>38 to Arrow Decimal256 (sql.rs:1451-1475). Spark
        # has no 256-bit decimal (DecimalType caps at 38), so rather than
        # silently downcasting — which would corrupt values the reference
        # stores exactly — we reject with an explicit, tested error.
        if p > 38:
            raise ValueError(
                f"DECIMAL({p},{s}): precision above 38 is not supported "
                "(Spark DecimalType caps at 38; the reference engine would "
                "use a 256-bit decimal here)"
            )
        if s > p:
            raise ValueError(f"DECIMAL({p},{s}): scale exceeds precision")
        return f"decimal({p},{s})"
    if t == "DECIMAL":
        return "decimal(38,10)"  # reference default (sql.rs:1451-1475)
    if t in _TYPE_MAP:
        return _TYPE_MAP[t]
    return sql_type.lower()


_CREATE_RE = re.compile(
    r"^\s*CREATE\s+TABLE\s+(?:(IF\s+NOT\s+EXISTS)\s+)?([\w.]+)\s*(.*)$",
    re.IGNORECASE | re.DOTALL,
)
_DROP_RE = re.compile(
    r"^\s*DROP\s+TABLE\s+(?:(IF\s+EXISTS)\s+)?([\w.]+)\s*;?\s*$", re.IGNORECASE
)
_INSERT_RE = re.compile(r"^\s*INSERT\s+INTO\s+([\w.]+)\s*(.*)$", re.IGNORECASE | re.DOTALL)
_DELETE_RE = re.compile(
    r"^\s*DELETE\s+FROM\s+([\w.]+)(?:\s+WHERE\s+(.*?))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_TRUNCATE_RE = re.compile(r"^\s*TRUNCATE\s+(?:TABLE\s+)?([\w.]+)\s*;?\s*$", re.IGNORECASE)
# Only the UPDATE..SET prefix is regex-matched; the SET/FROM/WHERE split is
# done by _split_at_keyword so subqueries and string literals containing
# " WHERE " don't truncate the assignment list.
_UPDATE_PREFIX_RE = re.compile(
    r"^\s*UPDATE\s+([\w.]+)\s+SET\s+(.*?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
# COPY ... TO is an unimplemented todo!() in the reference (sql.rs:315-322);
# implemented here via df.write (SURVEY.md §7.4.6).
_COPY_RE = re.compile(
    r"^\s*COPY\s+([\w.]+)\s+(FROM|TO)\s+'([^']+)'\s*(.*?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_COPY_OPTION_RE = re.compile(r"(\w+)(?:\s+('(?:[^']|'')*'|\S+))?$", re.DOTALL)
# COPY FROM reads CSV only (Session hands the file to read_csv_like)
_COPY_FORMATS = {"from": ("csv",), "to": ("csv", "json", "orc", "parquet")}


def parse_ddl_dml(text: str) -> DdlDmlStatement | None:
    """Recognize DDL/DML statements the Session executes itself; return None
    for plain queries (handed to Spark SQL)."""
    stmt = _parse_merge(text)
    if stmt is not None:
        return stmt

    m = _COPY_RE.match(text)
    if m:
        return _parse_copy(m)

    m = _DROP_RE.match(text)
    if m:
        return DdlDmlStatement(kind="drop_table", table=m.group(2), if_exists=bool(m.group(1)))

    m = _CREATE_RE.match(text)
    if m:
        rest = m.group(3).strip().rstrip(";").strip()
        stmt = DdlDmlStatement(
            kind="create_table", table=m.group(2), if_not_exists=bool(m.group(1))
        )
        as_match = re.match(r"^(?:\((.*)\)\s*)?AS\s+(SELECT.*|VALUES.*)$", rest, re.IGNORECASE | re.DOTALL)
        if as_match:
            stmt.query = as_match.group(2)
        elif rest.startswith("("):
            stmt.columns = _parse_column_defs(rest[1 : _close_paren(rest)])
        elif not rest:
            stmt.columns = []
        return stmt

    m = _INSERT_RE.match(text)
    if m:
        cols, query = _parse_column_list(m.group(2))
        if re.match(r"VALUES|SELECT\s", query, re.IGNORECASE):
            return DdlDmlStatement(
                kind="insert",
                table=m.group(1),
                columns_list=cols,
                query=query.rstrip().rstrip(";"),
            )

    m = _DELETE_RE.match(text)
    if m:
        return DdlDmlStatement(kind="delete", table=m.group(1), predicate=m.group(2))

    m = _TRUNCATE_RE.match(text)
    if m:
        # TRUNCATE = unconditional delete (keeps schema + defaults)
        return DdlDmlStatement(kind="delete", table=m.group(1), predicate=None)

    m = _UPDATE_PREFIX_RE.match(text)
    if m:
        table = m.group(1)
        set_part, from_part = _split_at_keyword(m.group(2), "FROM")
        if from_part is None:
            set_part, predicate = _split_at_keyword(set_part, "WHERE")
            return DdlDmlStatement(
                kind="update", table=table, assignments=_parse_set_list(set_part), predicate=predicate
            )
        # UPDATE t SET ... FROM src WHERE join_cond  (Postgres/DuckDB form):
        # desugar to MERGE with a single WHEN MATCHED UPDATE arm — identical
        # semantics including the error on a target row matching multiple
        # source rows (DuckDB raises there too; Postgres picks arbitrarily,
        # which a deterministic engine must not).
        source_part, on_cond = _split_at_keyword(from_part, "WHERE")
        source, is_query, alias, rest = _parse_source(source_part)
        if rest.strip():
            raise ValueError(f"UPDATE ... FROM: cannot parse source: {source_part.strip()!r}")
        return DdlDmlStatement(
            kind="merge",
            table=table,
            alias=table,  # target referenced by its own name
            source=source,
            source_is_query=is_query,
            source_alias=alias or source,
            on_cond=on_cond or "TRUE",
            clauses=[
                MergeClause(
                    matched=True, cond=None, action="update", assignments=_parse_set_list(set_part)
                )
            ],
        )

    return None


def _parse_copy(m: re.Match) -> DdlDmlStatement:
    """``COPY <t> FROM|TO '<path>' [(<options>)]`` from a ``_COPY_RE``
    match. An unknown option, or a FORMAT the direction cannot handle,
    raises instead of being dropped."""
    direction, tail = m.group(2).lower(), m.group(4)
    if tail and (not tail.startswith("(") or _close_paren(tail) != len(tail) - 1):
        raise ValueError(f"COPY: expected (options) after the path, got {tail!r}")
    opts: dict[str, object] = {}
    for part in _split_top_level_commas(tail[1:-1]):
        part = part.strip()
        if not part:
            continue
        kv = _COPY_OPTION_RE.match(part)
        key = kv.group(1).lower() if kv else None
        if key not in ("format", "delimiter", "header", "multiline"):
            raise ValueError(
                f"COPY: unsupported option {part!r} (expected FORMAT, DELIMITER, HEADER or MULTILINE)"
            )
        val = kv.group(2)
        if val is not None and val.startswith("'"):
            val = _parse_literal(val)
        if key in ("header", "multiline"):
            opts[key] = val is None or val.lower() in ("true", "on")
        elif val is None:
            raise ValueError(f"COPY: {key.upper()} needs a value")
        elif key == "format" and val.lower() not in _COPY_FORMATS[direction]:
            raise ValueError(
                f"COPY {direction.upper()}: FORMAT {val} is not supported "
                f"(supported: {', '.join(_COPY_FORMATS[direction]).upper()})"
            )
        else:
            opts[key] = val.lower() if key == "format" else val
    return DdlDmlStatement(
        kind=f"copy_{direction}", table=m.group(1), path=m.group(3), options=opts
    )


_MERGE_HEAD_RE = re.compile(
    r"^\s*MERGE\s+INTO\s+([\w.]+)(?:\s+(?:AS\s+)?(?!USING\b)(\w+))?\s+USING\s+",
    re.IGNORECASE,
)
_MERGE_WHEN_RE = re.compile(r"\bWHEN\s+(NOT\s+)?MATCHED\b", re.IGNORECASE)


def _parse_merge(text: str) -> DdlDmlStatement | None:
    """MERGE INTO t [alias] USING (src|query) [alias] ON cond WHEN ... —
    upsert DML absent from the reference (its DML stops at INSERT/DELETE,
    qurious/src/execution/session.rs:128-151); standard SQL:2003 semantics."""
    m = _MERGE_HEAD_RE.match(text)
    if not m:
        return None
    stmt = DdlDmlStatement(kind="merge", table=m.group(1), alias=m.group(2))
    stmt.source, stmt.source_is_query, stmt.source_alias, rest = _parse_source(text[m.end() :])
    m3 = re.match(r"\s*ON\s+(.*)$", rest, re.IGNORECASE | re.DOTALL)
    if not m3:
        raise ValueError("MERGE: missing ON condition")
    tail = m3.group(1)
    top_level = {i for i, depth in _scan(tail) if depth == 0}
    whens = [w for w in _MERGE_WHEN_RE.finditer(tail) if w.start() in top_level]
    if not whens:
        raise ValueError("MERGE: at least one WHEN clause required")
    stmt.on_cond = tail[: whens[0].start()].strip()
    for i, w in enumerate(whens):
        seg_end = whens[i + 1].start() if i + 1 < len(whens) else len(tail)
        seg = tail[w.end() : seg_end].strip().rstrip(";").strip()
        stmt.clauses.append(_parse_merge_clause(matched=not w.group(1), seg=seg))
    return stmt


_ALIAS_RE = re.compile(r"\s*(?:AS\s+)?(?!ON\b)(\w+)", re.IGNORECASE)


def _parse_source(text: str) -> tuple[str, bool, str | None, str]:
    """The USING source of MERGE, or the FROM source of UPDATE:
    ``(query) [[AS] alias]`` or ``name [[AS] alias]`` at the start of
    ``text``. Returns (source, is_query, alias or None, the text after)."""
    text = text.lstrip()
    if text.startswith("("):
        close = _close_paren(text)
        source, is_query, rest = text[1:close].strip(), True, text[close + 1 :]
    else:
        m = re.match(r"[\w.]+", text)
        if not m:
            raise ValueError(f"expected a table name or (subquery), got {text!r}")
        source, is_query, rest = m.group(0), False, text[m.end() :]
    m = _ALIAS_RE.match(rest)
    return (source, is_query, m.group(1), rest[m.end() :]) if m else (source, is_query, None, rest)


def _parse_set_list(text: str) -> dict[str, str]:
    """``col = expr, ...`` (UPDATE and MERGE's UPDATE arm) → {col: expr}.
    Column names are kept as written; the Session resolves them."""
    assignments: dict[str, str] = {}
    for part in _split_top_level_commas(text):
        col, eq, expr = part.partition("=")
        if not eq:
            raise ValueError(f"SET: expected column = expression, got {part.strip()!r}")
        assignments[col.strip()] = expr.strip()
    return assignments


def _parse_merge_clause(matched: bool, seg: str) -> MergeClause:
    m = re.match(r"(?:AND\s+(.*?)\s+)?THEN\s+(.*)$", seg, re.IGNORECASE | re.DOTALL)
    if not m:
        raise ValueError(f"MERGE: cannot parse WHEN clause: {seg!r}")
    cond, action_text = m.group(1), m.group(2).strip()
    up = action_text.upper()
    if up.startswith("DELETE"):
        if not matched:
            raise ValueError("MERGE: WHEN NOT MATCHED cannot DELETE")
        return MergeClause(matched=matched, cond=cond, action="delete")
    if up.startswith("UPDATE"):
        if not matched:
            raise ValueError("MERGE: WHEN NOT MATCHED cannot UPDATE")
        mu = re.match(r"UPDATE\s+SET\s+(.*)$", action_text, re.IGNORECASE | re.DOTALL)
        if not mu:
            raise ValueError(f"MERGE: cannot parse UPDATE action: {action_text!r}")
        return MergeClause(
            matched=matched, cond=cond, action="update", assignments=_parse_set_list(mu.group(1))
        )
    if up.startswith("INSERT"):
        if matched:
            raise ValueError("MERGE: WHEN MATCHED cannot INSERT")
        body = action_text[len("INSERT") :].strip()
        if body == "*" or body == "":
            return MergeClause(matched=matched, cond=cond, action="insert")
        cols, rest = _parse_column_list(body)
        mi = re.match(r"VALUES\s*\((.*)\)\s*$", rest, re.IGNORECASE | re.DOTALL)
        if not mi:
            raise ValueError(f"MERGE: cannot parse INSERT action: {action_text!r}")
        vals = [v.strip() for v in _split_top_level_commas(mi.group(1))]
        if cols is not None and len(cols) != len(vals):
            raise ValueError("MERGE: INSERT column/value count mismatch")
        return MergeClause(
            matched=matched, cond=cond, action="insert", insert_columns=cols, insert_values=vals
        )
    raise ValueError(f"MERGE: unknown action: {action_text!r}")


def _parse_column_list(text: str) -> tuple[list[str] | None, str]:
    """The ``(col, ...)`` list that opens ``text`` (INSERT and MERGE INSERT):
    (the names as written, the stripped text after the list), or (None,
    the stripped text) when ``text`` does not open with one."""
    text = text.strip()
    if not text.startswith("("):
        return None, text
    close = _close_paren(text)
    names = [c.strip() for c in _split_top_level_commas(text[1:close]) if c.strip()]
    return names, text[close + 1 :].strip()


def _parse_column_defs(body: str) -> list[tuple[str, str, object]]:
    """Parse ``name TYPE [NOT NULL] [DEFAULT v]`` lists; tolerates the
    reference's trailing comma (tests/tpch/create_tables.slt:10).

    Returns (name, spark_type, default) triples; a NOT NULL constraint is
    signaled by wrapping the default in ``NotNull`` (enforced on INSERT /
    MERGE-insert by the Session — the reference parses but never enforces
    it; we do, per SURVEY §7.4.6's implement-correctly rule)."""
    cols: list[tuple[str, str, object]] = []
    for part in _split_top_level_commas(body):
        part = part.strip()
        if not part:
            continue  # trailing comma tolerance
        m = re.match(
            r"(\w+)\s+(\w+(?:\s*\(\s*\d+\s*,\s*\d+\s*\))?)"
            r"(\s+NOT\s+NULL)?(?:\s+NULL)?(?:\s+DEFAULT\s+(.+))?$",
            part,
            re.IGNORECASE,
        )
        if not m:
            raise ValueError(f"cannot parse column definition: {part!r}")
        default = None
        if m.group(4) is not None:
            raw = m.group(4).strip()
            default = _parse_literal(raw)
        if m.group(3):
            default = NotNull(default)
        cols.append((m.group(1), map_sql_type(m.group(2)), default))
    return cols


class NotNull:
    """Marker wrapping a column default: the column carries NOT NULL."""

    def __init__(self, default: object = None):
        self.default = default


def _parse_literal(raw: str) -> object:
    if len(raw) >= 2 and raw.startswith("'") and raw.endswith("'"):
        return raw[1:-1].replace("''", "'")
    low = raw.lower()
    if low == "null":
        return None
    if low in ("true", "false"):
        return low == "true"
    try:
        return int(raw)
    except ValueError:
        pass
    try:
        return float(raw)
    except ValueError:
        pass
    return raw


def _scan(s: str):
    """Yield ``(i, depth)`` for every character ``s[i]`` outside a quoted
    span (rules in the module docstring), ``depth`` being the paren depth
    around it; a top-level ``(`` and its ``)`` both yield depth 0. ``''``
    needs no case: it closes the literal and at once reopens it."""
    depth, quote = 0, None
    for i, ch in enumerate(s):
        if quote is not None:
            if ch == quote:
                quote = None
        elif ch in "'\"`":
            quote = ch
        elif ch == ")":
            depth -= 1
            yield i, depth
        else:
            yield i, depth
            if ch == "(":
                depth += 1


def _close_paren(s: str, start: int = 0) -> int:
    """Index of the ``)`` that closes the ``(`` at ``s[start]``."""
    for i, depth in _scan(s[start:]):
        if depth == 0 and s[start + i] == ")":
            return start + i
    raise ValueError(f"unbalanced parentheses: {s[start:]!r}")


def _find_top_level_keyword(s: str, keyword: str) -> int:
    """Index of the first whole-word ``keyword`` outside parens and quoted
    spans; -1 if absent. An alias like ``SELECT a AS "order by"`` must not
    register as a keyword hit."""
    hits = {m.start() for m in re.finditer(rf"(?<!\w){re.escape(keyword)}(?!\w)", s, re.IGNORECASE)}
    return next((i for i, depth in _scan(s) if depth == 0 and i in hits), -1) if hits else -1


def _split_at_keyword(s: str, keyword: str) -> tuple[str, str | None]:
    """``s`` cut at its first top-level ``keyword``: (text before, stripped
    text after), or (s, None) when the keyword is absent."""
    i = _find_top_level_keyword(s, keyword)
    return (s, None) if i < 0 else (s[:i], s[i + len(keyword) :].strip())


def _split_top_level_commas(s: str) -> list[str]:
    cuts = [i for i, depth in _scan(s) if depth == 0 and s[i] == ","]
    return [s[a + 1 : b] for a, b in zip([-1, *cuts], [*cuts, len(s)])]


def _sub_unquoted(pattern: re.Pattern, repl, text: str) -> str:
    """``pattern.sub(repl, text)`` for the matches that lie wholly outside
    quoted spans; the others are left as they are."""
    if not pattern.search(text):
        return text
    outside = {i for i, _ in _scan(text)}
    sub = repl if callable(repl) else (lambda m: m.expand(repl))
    return pattern.sub(lambda m: sub(m) if outside.issuperset(range(*m.span())) else m.group(0), text)


_INTERVAL_SUM_RE = re.compile(
    r"\binterval\s+('\d+'(?:\s*\+\s*'\d+')+)\s+(year|month|day|hour|minute|second)s?\b",
    re.IGNORECASE,
)


def fold_interval_quantity(text: str) -> str:
    """``interval '1' + '2' day`` → ``INTERVAL '3' DAY``.

    The reference constant-folds the quantity expression of an interval
    literal at plan time (qurious/src/planner/sql.rs:1146-1229, fixture
    tests/sql/type.slt IntervalBinaryExpr); Spark's parser only accepts a
    single quantity literal, so we fold it here."""

    def repl(m: re.Match) -> str:
        total = sum(int(q) for q in re.findall(r"'(\d+)'", m.group(1)))
        return f"INTERVAL '{total}' {m.group(2).upper()}"

    return _INTERVAL_SUM_RE.sub(repl, text)


def _select_output_idents(select_list: str) -> dict[str, set[str | None]]:
    """Lower-cased output column names a ``SELECT <list>`` exposes, mapped
    to the source identifiers that expose them. Exposure rules: the AS
    alias, a bare or qualified identifier's trailing name, or — for ANY
    other item — the trailing bare identifier if one exists. The last rule
    is a deliberate over-approximation (``a + b`` "exposes" b): a false
    positive merely skips the ORDER BY carry, restoring pre-carry behavior,
    while a miss used to inject a bogus bare column into the inner select
    (round-6 advisor finding: no-AS expression aliases like
    ``count(*) cnt`` followed by ``ORDER BY cnt``).

    The value set records, per exposed name, the lower-cased (possibly
    qualified) identifier the exposing item selects when that item IS a
    plain identifier (``t.x``, ``x``, ``t.x AS x``); any other item shape
    contributes ``None``. A qualified ORDER BY reference is only rewritten
    to the bare output name when its own identifier (or its bare trailing
    form) appears here — rewriting on name alone silently bound
    ``ORDER BY t.x`` to an exposed ``s.x`` from a different source
    (round-7 advisor finding)."""
    body = re.sub(r"^\s*SELECT\s+(DISTINCT\s+)?", "", select_list, flags=re.IGNORECASE)
    names: dict[str, set[str | None]] = {}
    for item in _split_top_level_commas(body):
        item = item.strip()
        m = re.search(r"^(.*?)\s+AS\s+([A-Za-z_]\w*)\s*$", item, re.IGNORECASE | re.DOTALL)
        if m:
            expr = m.group(1).strip()
            src = (
                expr.lower()
                if re.fullmatch(r"[A-Za-z_]\w*(\.[A-Za-z_]\w*)?", expr)
                else None
            )
            names.setdefault(m.group(2).lower(), set()).add(src)
        elif re.fullmatch(r"[A-Za-z_]\w*(\.[A-Za-z_]\w*)?", item):
            names.setdefault(item.split(".")[-1].lower(), set()).add(item.lower())
        else:
            m2 = re.search(r"([A-Za-z_]\w*)\s*$", item)
            if m2:
                names.setdefault(m2.group(1).lower(), set()).add(None)
    return names


def rewrite_qualify(text: str, wrap: bool = False) -> str:
    """DuckDB/Snowflake-style ``QUALIFY <window-pred>`` desugar.

    Default (inline) form — ``SELECT <list> FROM ... [WHERE/GROUP BY/
    HAVING] QUALIFY p [ORDER BY/LIMIT tail]`` becomes::

        SELECT * EXCEPT (__qual)
        FROM (SELECT <list>, (p) AS __qual FROM ...) __qualified
        WHERE __qual [tail]

    — the predicate joins the inner select list, so it may window over ANY
    in-scope column (selected or not), like DuckDB. Spark refuses lateral
    alias references inside window expressions
    (UNSUPPORTED_FEATURE.LATERAL_COLUMN_ALIAS_IN_WINDOW), so a predicate
    windowing over a SELECT ALIAS needs ``wrap=True``::

        SELECT * EXCEPT (__qual)
        FROM (SELECT *, (p) AS __qual FROM (<query>) __qualify_base) q
        WHERE __qual [tail]

    where aliases are materialized columns (but unselected base columns go
    out of scope). Session.sql tries inline first and retries wrapped on
    that specific analysis error, covering both DuckDB-parity cases.
    Top-level only; SELECT DISTINCT + QUALIFY is rejected rather than
    silently reordered.
    """
    i = _find_top_level_keyword(text, "QUALIFY")
    if i < 0:
        return text
    head, rest = text[:i], text[i + len("QUALIFY") :]
    if re.match(r"^\s*SELECT\s+DISTINCT\b", head, re.IGNORECASE):
        raise ValueError(
            "QUALIFY with SELECT DISTINCT is not supported — filter in a "
            "subquery instead (DISTINCT-then-QUALIFY ordering is ambiguous)"
        )
    cuts = [
        k
        for k in (_find_top_level_keyword(rest, w) for w in ("ORDER", "LIMIT", "OFFSET"))
        if k >= 0
    ]
    j = min(cuts) if cuts else -1
    pred, tail = (rest[:j], rest[j:]) if j >= 0 else (rest, "")
    pred = pred.strip().rstrip(";")
    f = _find_top_level_keyword(head, "FROM")
    if f < 0:
        return text  # SELECT without FROM: nothing to qualify over
    # The ORDER BY tail lands OUTSIDE the generated subquery (it must sort
    # the filtered rows), so a bare base column that the select list doesn't
    # expose would fall out of scope — legal in DuckDB and in plain Spark.
    # Inline form: carry such columns through the inner select and EXCEPT
    # them away in the outer projection (round-5 advisor finding; the
    # "appears anywhere in the select text" shortcut was itself caught by
    # the QUALIFY fuzzer — a column referenced inside a window expression is
    # NOT exposed — so exposure is decided on the parsed OUTPUT names).
    # Only simple (possibly qualified) identifiers are carried; ORDER BY
    # over an unselected *expression* still needs selecting it (documented
    # limitation), as does the wrap form, whose inner
    # ``SELECT * FROM (<query>)`` has no base columns left to carry.
    # Qualified ``t.col`` items are carried through the inner select and
    # the tail reference is rewritten to the bare trailing name — the outer
    # query only sees ``__qualified``'s output columns, so the qualified
    # form can never resolve there (round-6 advisor finding: previously
    # neither carried nor rejected).
    extra: list[str] = []  # expressions appended to the inner select list
    extra_names: list[str] = []  # their exposed trailing names, for EXCEPT
    select_list = head[: f]
    if not wrap and tail:
        om = re.match(
            r"^(\s*ORDER\s+BY\s+)(.*?)(\bLIMIT\b.*|\bOFFSET\b.*|$)",
            tail,
            re.IGNORECASE | re.DOTALL,
        )
        # a top-level wildcard item (* / t.*) already exposes every base
        # column — test the split items, not the raw text, which would trip
        # on COUNT(*) (found by the QUALIFY fuzzer)
        has_wildcard = any(
            it.strip() == "*" or it.strip().endswith(".*")
            for it in _split_top_level_commas(
                re.sub(r"^\s*SELECT\s+(DISTINCT\s+)?", "", select_list, flags=re.IGNORECASE)
            )
        )
        if om and not has_wildcard:
            exposed = _select_output_idents(select_list)
            # Under JOIN .. USING / NATURAL JOIN, a bare exposed ``x`` is the
            # COALESCED join column, which t.x/s.x do not equal on non-inner
            # joins — so a qualified ORDER BY item may only be rewritten to
            # the bare name when the select item is that same qualified
            # identifier; bare exposure is not proof of source (round-8
            # advisor finding). Elsewhere a bare ``SELECT x`` that analyzed
            # is unambiguous (two sources with x would be an analysis
            # error), so t.x == exposed x and bare exposure suffices.
            # Deliberately OVER-conservative: this scans all of head[f:],
            # so a USING(...)/NATURAL JOIN inside a derived-table subquery
            # (or even a string literal) also suppresses the rewrite. The
            # failure direction is safe — the qualified ORDER BY then fails
            # analysis LOUDLY instead of ever sorting by the wrong (
            # non-coalesced) column; no registry or slt query hits the
            # false-positive case (round-9 advisor note).
            coalescing_join = bool(
                re.search(
                    r"\bUSING\s*\(|\bNATURAL\s+(?:\w+\s+)*JOIN\b",
                    head[f:],
                    re.IGNORECASE,
                )
            )
            carried_from: dict[str, str] = {}  # trailing name -> source ident
            new_items: list[str] = []
            tail_changed = False
            for item in _split_top_level_commas(om.group(2)):
                mm = re.match(
                    r"^(\s*)([A-Za-z_]\w*(?:\.[A-Za-z_]\w*)?)"
                    r"((?:\s+(?:ASC|DESC|NULLS\s+(?:FIRST|LAST)))*\s*;?\s*)$",
                    item,
                    re.IGNORECASE,
                )
                if not mm:
                    new_items.append(item)
                    continue
                ident = mm.group(2)
                trailing = ident.split(".")[-1]
                key = trailing.lower()
                if key in exposed:
                    # already an output column; a qualified ref is rewritten
                    # to the bare output name ONLY when the exposing select
                    # item is that same identifier (qualified or bare) —
                    # otherwise ``ORDER BY t.x`` over an exposed ``s.x``
                    # would silently sort by the wrong source, so the item
                    # is left as-is and fails analysis loudly instead
                    # (round-7 advisor finding); under a coalescing join the
                    # bare name isn't proof of source (round-8, above)
                    accept = (
                        {ident.lower()} if coalescing_join else {ident.lower(), key}
                    )
                    if "." in ident and exposed[key] & accept:
                        new_items.append(mm.group(1) + trailing + mm.group(3))
                        tail_changed = True
                    else:
                        new_items.append(item)
                    continue
                if key in carried_from:
                    if carried_from[key] != ident:
                        # two distinct sources would collide on one exposed
                        # name — leave the item alone (analysis error beats
                        # a silently wrong sort key)
                        new_items.append(item)
                        continue
                else:
                    carried_from[key] = ident
                    extra.append(ident)
                    extra_names.append(trailing)
                if "." in ident:
                    new_items.append(mm.group(1) + trailing + mm.group(3))
                    tail_changed = True
                else:
                    new_items.append(item)
            if tail_changed:
                tail = om.group(1) + ",".join(new_items) + om.group(3)
    carried = "".join(f", {c}" for c in extra)
    except_list = ", ".join(["__qual", *extra_names])
    if wrap:
        inner = (
            f"SELECT *, ({pred}) AS __qual FROM ({head.rstrip()}) __qualify_base"
        )
    else:
        inner = f"{head[:f].rstrip()}{carried}, ({pred}) AS __qual {head[f:]}".rstrip()
    return (
        f"SELECT * EXCEPT ({except_list}) FROM ({inner}) __qualified "
        f"WHERE __qual {tail}"
    )


_READ_FN_RE = re.compile(
    r"\b(read_csv|read_json|read_parquet|read_orc)\s*(\()\s*'([^']+)'\s*[,)]",
    re.IGNORECASE,
)


def rewrite_table_functions(session, text: str) -> str:
    """Rewrite ``FROM read_csv('p', opts)`` to a registered temp view name.

    The reference resolves these at parse/registration time
    (session.rs:169-192); we do the same: eagerly register a (lazy) reader
    DataFrame as a temp view named after a hash of the path (the reference
    derives table identity from a path hash too, table_relation.rs:41-45).
    """
    from qurious_spark.sources.readers import read_csv_like, read_parquet

    def register(fn: str, path: str, options: dict[str, object]) -> str:
        view = "file_" + re.sub(r"\W", "_", path).strip("_")
        if fn == "read_csv":
            df = read_csv_like(
                session.spark,
                path,
                delimiter=options.get("delimiter", ","),
                header=options.get("has_header", options.get("header", True)),
            )
        elif fn == "read_json":
            df = session.spark.read.json(path)
        elif fn == "read_orc":
            df = session.spark.read.orc(path)
        else:
            df = read_parquet(session.spark, path)
        df.createOrReplaceTempView(view)
        return view

    out, pos = [], 0
    outside = {i for i, _ in _scan(text)} if _READ_FN_RE.search(text) else ()
    for m in _READ_FN_RE.finditer(text):
        if m.start() < pos or m.start() not in outside:
            continue  # inside a quoted span, or a call already rewritten
        close = _close_paren(text, m.start(2))
        options = _parse_read_options(text[m.end() - 1 : close])
        out += [text[pos : m.start()], register(m.group(1).lower(), m.group(3), options)]
        pos = close + 1
    return "".join(out) + text[pos:]


def _parse_read_options(opt_str: str) -> dict[str, object]:
    """``name => value`` (or ``=``) table-function options; others raise."""
    options: dict[str, object] = {}
    # quote-aware: delimiter=>',' must not split on its own comma
    for part in _split_top_level_commas(opt_str):
        part = part.strip()
        if not part:
            continue
        m = re.match(r"(\w+)\s*(?:=>|=)\s*(.+)$", part, re.DOTALL)
        if not m:
            raise ValueError(f"read_*: cannot parse option {part!r} (expected name => value)")
        options[m.group(1).lower()] = _parse_literal(m.group(2).strip())
    return options
