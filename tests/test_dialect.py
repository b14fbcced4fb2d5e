"""Unit tests for the SQL dialect shim (no Spark needed)."""

import dataclasses

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from qurious_spark.dialect import NotNull, map_sql_type, parse_ddl_dml


def test_create_table_basic():
    s = parse_ddl_dml("CREATE TABLE t (v1 INT, v2 VARCHAR NOT NULL, v3 DOUBLE DEFAULT 1.5)")
    assert s.kind == "create_table"
    assert s.table == "t"
    assert s.columns[0] == ("v1", "bigint", None)
    assert s.columns[2] == ("v3", "double", 1.5)
    name, typ, marker = s.columns[1]
    assert (name, typ) == ("v2", "string")
    assert isinstance(marker, NotNull) and marker.default is None


def test_create_table_trailing_comma():
    # reference fixture: tests/tpch/create_tables.slt:10 ends "s_rev VARCHAR,)"
    s = parse_ddl_dml("CREATE TABLE supplier (s_suppkey BIGINT, s_rev VARCHAR,)")
    assert [c[0] for c in s.columns] == ["s_suppkey", "s_rev"]


def test_create_table_as_select():
    s = parse_ddl_dml("CREATE TABLE t2 AS SELECT * FROM t1")
    assert s.kind == "create_table" and s.query.startswith("SELECT")


def test_create_if_not_exists():
    s = parse_ddl_dml("CREATE TABLE IF NOT EXISTS t (a INT)")
    assert s.if_not_exists


def test_decimal_mapping():
    assert map_sql_type("DECIMAL(15,2)") == "decimal(15,2)"
    assert map_sql_type("DECIMAL") == "decimal(38,10)"
    assert map_sql_type("INT") == "bigint"  # reference maps INT→Int64 (sql.rs:1441)
    assert map_sql_type("FLOAT") == "double"


def test_insert_variants():
    s = parse_ddl_dml("INSERT INTO t VALUES (1, 2), (3, 4)")
    assert s.kind == "insert" and s.columns_list is None
    s = parse_ddl_dml("INSERT INTO t (a, b) SELECT x, y FROM u")
    assert s.columns_list == ["a", "b"] and s.query.startswith("SELECT")
    # a quoted column name may hold a comma or a close paren
    for name in ("`a)b`", "`a,b`"):
        s = parse_ddl_dml(f"INSERT INTO t ({name}, c) VALUES (1, 2)")
        assert s.columns_list == [name, "c"] and s.query == "VALUES (1, 2)"
        s = parse_ddl_dml(
            f"MERGE INTO t USING s ON t.k = s.k "
            f"WHEN NOT MATCHED THEN INSERT ({name}, c) VALUES (s.x, s.y)"
        )
        assert s.clauses[0].insert_columns == [name, "c"]
        assert s.clauses[0].insert_values == ["s.x", "s.y"]


def test_delete_update():
    s = parse_ddl_dml("DELETE FROM t WHERE a > 1")
    assert s.kind == "delete" and s.predicate == "a > 1"
    s = parse_ddl_dml("DELETE FROM t")
    assert s.predicate is None
    s = parse_ddl_dml("UPDATE t SET a = a + 1, b = 'x' WHERE c IS NULL")
    assert s.assignments == {"a": "a + 1", "b": "'x'"} and s.predicate == "c IS NULL"


def test_copy_from():
    s = parse_ddl_dml("COPY lineitem FROM '/tmp/lineitem.tbl' (DELIMITER '|')")
    assert s.kind == "copy_from" and s.options["delimiter"] == "|"
    s = parse_ddl_dml("COPY lineitem FROM '/tmp/lineitem.tbl' (DELIMITER ')', HEADER)")
    assert s.options == {"delimiter": ")", "header": True}
    # an unknown option, or a format COPY FROM cannot read, raises
    for options, match in (("(QUOTE 'x')", "QUOTE"), ("(FORMAT JSON)", "JSON")):
        with pytest.raises(ValueError, match=match):
            parse_ddl_dml(f"COPY w FROM '/tmp/w' {options}")


def test_create_default_paren_literal_keeps_every_column():
    s = parse_ddl_dml("CREATE TABLE u (a VARCHAR DEFAULT ')', b INT)")
    assert s.columns == [("a", "string", ")"), ("b", "bigint", None)]


@pytest.mark.parametrize(
    "sql",
    [
        "MERGE INTO t USING (SELECT ')' AS k) s ON t.k = s.k WHEN MATCHED THEN UPDATE SET v = 1",
        "UPDATE t SET v = 1 FROM (SELECT ')' AS k) s WHERE t.k = s.k",
    ],
)
def test_paren_literal_inside_source_subquery(sql):
    s = parse_ddl_dml(sql)
    assert (s.kind, s.source, s.source_is_query, s.source_alias, s.on_cond) == (
        "merge", "SELECT ')' AS k", True, "s", "t.k = s.k"
    )
    assert s.clauses[0].assignments == {"v": "1"}


def test_plain_select_passthrough():
    assert parse_ddl_dml("SELECT * FROM t") is None
    assert parse_ddl_dml("WITH x AS (SELECT 1) SELECT * FROM x") is None


def test_update_subquery_assignment_with_inner_where():
    # the WHERE inside the subquery must not truncate the SET list
    s = parse_ddl_dml("UPDATE t SET a = (SELECT max(x) FROM u WHERE u.k = t.k), b = 2 WHERE c > 0")
    assert s.kind == "update"
    assert s.assignments == {"a": "(SELECT max(x) FROM u WHERE u.k = t.k)", "b": "2"}
    assert s.predicate == "c > 0"


def test_update_string_literal_containing_where():
    s = parse_ddl_dml("UPDATE t SET a = 'pick WHERE you like' WHERE b = 1")
    assert s.assignments == {"a": "'pick WHERE you like'"}
    assert s.predicate == "b = 1"
    # no top-level WHERE at all, literal still contains one
    s = parse_ddl_dml("UPDATE t SET a = 'no WHERE clause here'")
    assert s.assignments == {"a": "'no WHERE clause here'"}
    assert s.predicate is None


def test_update_where_inside_quoted_identifier_not_split():
    from qurious_spark.dialect import _find_top_level_keyword, _split_top_level_commas

    # double-quoted identifiers and backticks are opaque to the scanners
    assert _find_top_level_keyword('a = "x where y"', "WHERE") == -1
    assert _find_top_level_keyword("a = `x where y`", "WHERE") == -1
    assert _find_top_level_keyword('a = "x" WHERE b = 1', "WHERE") == 8
    assert _split_top_level_commas('a = "x, y", b = 2') == ['a = "x, y"', ' b = 2']


def test_rewrite_qualify_passthrough_and_distinct_rejection():
    import pytest as _pytest

    from qurious_spark.dialect import rewrite_qualify

    plain = "SELECT a FROM t WHERE b > 1"
    assert rewrite_qualify(plain) == plain
    # quoted identifiers must not register as the keyword
    quoted = 'SELECT a AS "qualify" FROM t'
    assert rewrite_qualify(quoted) == quoted
    with _pytest.raises(ValueError, match="DISTINCT"):
        rewrite_qualify("SELECT DISTINCT a FROM t QUALIFY row_number() OVER (ORDER BY a) = 1")


def test_rewrite_qualify_inline_and_wrapped_shapes():
    from qurious_spark.dialect import rewrite_qualify

    sql = "SELECT a, b FROM t WHERE c = 1 QUALIFY rn() OVER (ORDER BY a) = 1 ORDER BY a LIMIT 3"
    inline = rewrite_qualify(sql)
    assert "EXCEPT (__qual)" in inline and "WHERE __qual" in inline
    assert inline.rstrip().endswith("LIMIT 3")
    wrapped = rewrite_qualify(sql, wrap=True)
    assert "__qualify_base" in wrapped and "WHERE __qual" in wrapped


def test_rewrite_qualify_carries_unselected_order_by_column():
    from qurious_spark.dialect import rewrite_qualify

    sql = (
        "SELECT grp, v FROM t "
        "QUALIFY row_number() OVER (PARTITION BY grp ORDER BY v DESC) = 1 "
        "ORDER BY k"
    )
    out = rewrite_qualify(sql)
    # k joins the inner select so the outer ORDER BY can see it, and is
    # EXCEPTed away from the final projection
    assert ", k," in out.replace("  ", " ") or "v, k" in out
    assert "EXCEPT (__qual, k)" in out
    # a selected column is not duplicated
    sql2 = (
        "SELECT grp, v FROM t "
        "QUALIFY row_number() OVER (PARTITION BY grp ORDER BY v) = 1 "
        "ORDER BY v"
    )
    assert "EXCEPT (__qual)" in rewrite_qualify(sql2)


def test_rewrite_qualify_no_as_alias_is_exposed():
    """Round-6 advisor finding: a no-AS expression alias (``count(*) cnt``)
    followed by ``ORDER BY cnt`` must NOT be treated as an unexposed base
    column — the old rewrite appended a bare ``cnt`` to the inner select,
    which does not resolve there."""
    from qurious_spark.dialect import rewrite_qualify

    sql = (
        "SELECT grp, count(*) cnt FROM t GROUP BY grp "
        "QUALIFY row_number() OVER (ORDER BY count(*) DESC) <= 5 "
        "ORDER BY cnt DESC"
    )
    out = rewrite_qualify(sql)
    assert "EXCEPT (__qual)" in out  # nothing carried
    assert "cnt, (" in out.replace("  ", " ")  # select list intact, no bare cnt appended


def test_rewrite_qualify_qualified_order_by_items():
    """Qualified ``t.col`` ORDER BY items: carried (unselected) or rewritten
    to the bare output name (selected) — previously neither, so the outer
    ORDER BY t.col never resolved against __qualified."""
    from qurious_spark.dialect import rewrite_qualify

    # unselected base column, qualified: carried as t.k, exposed/EXCEPTed
    # as k, tail rewritten to the bare name
    sql = (
        "SELECT grp, v FROM t "
        "QUALIFY row_number() OVER (PARTITION BY grp ORDER BY v DESC) = 1 "
        "ORDER BY t.k DESC"
    )
    out = rewrite_qualify(sql)
    assert ", t.k," in out.replace("  ", " ")
    assert "EXCEPT (__qual, k)" in out
    assert out.rstrip().endswith("ORDER BY k DESC")
    # selected column referenced qualified: no carry, tail rewritten
    sql2 = (
        "SELECT grp, v FROM t "
        "QUALIFY row_number() OVER (PARTITION BY grp ORDER BY v) = 1 "
        "ORDER BY t.v"
    )
    out2 = rewrite_qualify(sql2)
    assert "EXCEPT (__qual)" in out2
    assert out2.rstrip().endswith("ORDER BY v")


def test_rewrite_qualify_qualified_order_by_other_source_untouched():
    """Round-7 advisor finding: ``ORDER BY t.x`` whose trailing name is
    exposed by a DIFFERENT source (``SELECT s.x`` or ``s.y AS x``) must be
    left untouched — rewriting to the bare name would silently sort by the
    other source's column; untouched it fails analysis loudly instead."""
    from qurious_spark.dialect import rewrite_qualify

    # exposed x comes from s, ORDER BY names t: leave the item alone
    sql = (
        "SELECT grp, s.x FROM t JOIN s USING (grp) "
        "QUALIFY row_number() OVER (PARTITION BY grp ORDER BY s.x) = 1 "
        "ORDER BY t.x"
    )
    out = rewrite_qualify(sql)
    assert out.rstrip().endswith("ORDER BY t.x")
    assert "EXCEPT (__qual)" in out  # nothing carried either

    # same-source alias form still rewrites: t.x AS x / ORDER BY t.x
    sql2 = (
        "SELECT grp, t.x AS x FROM t "
        "QUALIFY row_number() OVER (PARTITION BY grp ORDER BY t.x) = 1 "
        "ORDER BY t.x DESC"
    )
    out2 = rewrite_qualify(sql2)
    assert out2.rstrip().endswith("ORDER BY x DESC")

    # expression alias exposing the name (count(*) AS x): not an identifier
    # source, so a qualified ref stays untouched
    sql3 = (
        "SELECT grp, count(*) AS x FROM t GROUP BY grp "
        "QUALIFY row_number() OVER (ORDER BY count(*)) <= 3 "
        "ORDER BY t.x"
    )
    out3 = rewrite_qualify(sql3)
    assert out3.rstrip().endswith("ORDER BY t.x")


def test_rewrite_qualify_qualified_order_by_using_join_untouched():
    """Round-8 advisor finding: under ``JOIN .. USING(x)`` (or NATURAL
    JOIN) a bare exposed ``x`` is the COALESCED join column — on a FULL
    OUTER join it differs from ``t.x`` — so ``ORDER BY t.x`` must NOT be
    rewritten to the bare name on bare exposure alone; left untouched it
    fails analysis loudly instead of silently sorting the wrong source."""
    from qurious_spark.dialect import rewrite_qualify

    sql = (
        "SELECT x, t.v FROM t FULL OUTER JOIN s USING (x) "
        "QUALIFY row_number() OVER (PARTITION BY x ORDER BY t.v) = 1 "
        "ORDER BY t.x"
    )
    out = rewrite_qualify(sql)
    assert out.rstrip().endswith("ORDER BY t.x")

    # the exact qualified identifier in the select list still rewrites,
    # even under USING — the source is proven, not inferred from the name
    sql2 = (
        "SELECT t.x, t.v FROM t JOIN s USING (x) "
        "QUALIFY row_number() OVER (ORDER BY t.v) = 1 "
        "ORDER BY t.x DESC"
    )
    out2 = rewrite_qualify(sql2)
    assert out2.rstrip().endswith("ORDER BY x DESC")

    # NATURAL JOIN triggers the same conservatism
    sql3 = (
        "SELECT x, t.v FROM t NATURAL LEFT JOIN s "
        "QUALIFY row_number() OVER (ORDER BY t.v) = 1 "
        "ORDER BY t.x"
    )
    out3 = rewrite_qualify(sql3)
    assert out3.rstrip().endswith("ORDER BY t.x")

    # and single-table bare exposure keeps rewriting (no coalescing join)
    sql4 = (
        "SELECT x FROM t "
        "QUALIFY row_number() OVER (ORDER BY x) = 1 "
        "ORDER BY t.x"
    )
    out4 = rewrite_qualify(sql4)
    assert out4.rstrip().endswith("ORDER BY x")


# Each template takes three string literals. Substituting literals made of
# the characters the pre-parser cuts on must change nothing in the parse but
# the literals themselves.
_LITERAL_TEMPLATES = (
    "CREATE TABLE u (a VARCHAR DEFAULT {0}, b INT NOT NULL DEFAULT {1}, c DECIMAL(10,2), d VARCHAR DEFAULT {2})",
    "UPDATE t SET a = {0}, b = concat(b, {1}) WHERE c = {2}",
    "UPDATE t SET a = s.x, b = {0} FROM (SELECT {1} AS x, k FROM u) s WHERE t.k = s.k AND t.c <> {2}",
    "MERGE INTO t USING (SELECT {0} AS k) s ON t.k = s.k "
    "WHEN MATCHED AND s.k <> {1} THEN UPDATE SET v = {2}, w = 1 "
    "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, {1})",
    "COPY t FROM '/tmp/p' (DELIMITER {0}, HEADER)",
    "COPY t TO '/tmp/p' (FORMAT CSV, DELIMITER {1})",
)
_TRICKY_LITERALS = ("')'", "'('", "','", "' WHERE '", "'FROM'", "''''", "'WHEN MATCHED'")


def _parse_tree(sql: str, swaps: dict[str, tuple[str, str]] | None = None):
    """asdict of the parse, NotNull spelled out; with ``swaps`` (plain
    literal text -> (literal text, literal value)) each plain literal is
    replaced by its counterpart, as SQL text or as a parsed value."""

    def walk(x):
        if isinstance(x, NotNull):
            return ("NOT NULL", walk(x.default))
        if isinstance(x, dict):
            return {walk(k): walk(v) for k, v in x.items()}
        if isinstance(x, (list, tuple)):
            return [walk(v) for v in x]
        if isinstance(x, str) and swaps:
            for plain, (text, value) in swaps.items():
                if x == plain[1:-1]:
                    return value
                x = x.replace(plain, text)
        return x

    return walk(dataclasses.asdict(parse_ddl_dml(sql)))


@settings(max_examples=150, deadline=None)
@given(
    template=st.sampled_from(_LITERAL_TEMPLATES),
    literals=st.tuples(*[st.sampled_from(_TRICKY_LITERALS)] * 3),
)
def test_quoted_literals_do_not_change_the_parse(template, literals):
    plain = [f"'plain{i}'" for i in range(3)]
    swaps = {p: (lit, lit[1:-1].replace("''", "'")) for p, lit in zip(plain, literals)}
    assert _parse_tree(template.format(*literals)) == _parse_tree(template.format(*plain), swaps)
