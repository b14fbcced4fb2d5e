"""Run the reference's own sqllogictest corpus against our engine.

The reference's primary correctness gate (qurious/tests/sqllogictests.rs) runs
every tests/sql/*.slt file with a fresh session per file.  We execute the very
same files (read from the read-only reference checkout — never copied) through
qurious_spark.testing.slt.

tpch.slt is gated exactly like upstream: it COPYs dbgen-generated .tbl files
that ship with neither repo (reference Makefile:23-36 generates them via
docker), so it only runs when INCLUDE_TPCH=true and the data exists.
"""

from __future__ import annotations

import glob
import os

import pytest

from qurious_spark.testing.slt import parse_slt_file, run_slt_file

REFERENCE_SQL_DIR = "/root/reference/qurious/tests/sql"
PROJECT_SQL_DIR = os.path.join(os.path.dirname(__file__), "sql")

_files = sorted(glob.glob(os.path.join(REFERENCE_SQL_DIR, "*.slt")))
_general = [f for f in _files if os.path.basename(f) != "tpch.slt"]
_project = sorted(glob.glob(os.path.join(PROJECT_SQL_DIR, "*.slt")))


_NO_CORPUS = "reference slt corpus is not on this host; SLT parity evidence is unavailable here"


@pytest.mark.skipif(not _general, reason=_NO_CORPUS)
@pytest.mark.parametrize("slt_path", _general, ids=[os.path.basename(f) for f in _general])
def test_reference_slt_file(spark, slt_path):
    result = run_slt_file(slt_path, spark)
    assert result.ok, "\n".join(result.failures)
    assert result.passed == result.total


@pytest.mark.parametrize("slt_path", _project, ids=os.path.basename)
def test_project_slt_file(spark, slt_path):
    """Project-authored slt files covering the beyond-reference SQL surface
    (windows, set ops, DISTINCT, IN-subqueries, dialect shim) through the
    same runner the reference corpus uses."""
    result = run_slt_file(slt_path, spark)
    assert result.ok, "\n".join(result.failures)


@pytest.mark.slow
@pytest.mark.skipif(not _files, reason=_NO_CORPUS)
def test_reference_tpch_slt(spark, tmp_path_factory):
    """The reference's gated TPC-H slt pipeline (create_tables -> COPY ->
    q1-q12 -> drop_tables), end-to-end. The dbgen ``.tbl`` data the corpus
    expects ships with neither repo (reference Makefile:23-36 builds it via
    docker), so testing/tpch_data.py derives equivalent files from the
    driver testdata — remapped into dbgen's value domains so every
    reference predicate selects rows — and a DuckDB connection loaded from
    the SAME files recomputes each query's expected block (the inline
    goldens encode unreproducible dbgen output)."""
    from qurious_spark.testing.tpch_data import generate, load_duckdb

    tbl_dir = generate(
        "/root/testdata/sf0.01", str(tmp_path_factory.mktemp("tpch_tbl"))
    )
    oracle = load_duckdb(tbl_dir)
    result = run_slt_file(
        os.path.join(REFERENCE_SQL_DIR, "tpch.slt"),
        spark,
        sql_rewrite=lambda s: s.replace("./tests/tpch/data/", tbl_dir + "/"),
        oracle=oracle,
    )
    assert result.ok, "\n".join(result.failures)
    # all 12 reference queries ran and none was vacuous on the remapped data
    assert len(result.oracle_rows) == 12, sorted(result.oracle_rows)
    empty = [loc for loc, n in result.oracle_rows.items() if n == 0]
    assert not empty, f"vacuous reference queries: {empty}"


def test_slt_parser_shapes(tmp_path):
    """Parser unit check: directives, rowsort, error records, halt."""
    p = tmp_path / "mini.slt"
    p.write_text(
        "# comment\n"
        "statement ok\n"
        "create table t(a int)\n"
        "\n"
        "query I rowsort\n"
        "select a from t\n"
        "----\n"
        "1\n"
        "2\n"
        "\n"
        "query error\n"
        "select nope from t\n"
        "\n"
        "halt\n"
        "statement ok\n"
        "never parsed\n"
    )
    recs = parse_slt_file(str(p))
    assert [r.kind for r in recs] == ["statement", "query", "query"]
    assert recs[1].sort_mode == "rowsort"
    assert recs[1].expected == ["1", "2"]
    assert recs[2].expect_error


def test_slt_runner_end_to_end(tmp_path, spark):
    p = tmp_path / "e2e.slt"
    p.write_text(
        "statement ok\n"
        "create table t(v1 int, v2 double)\n"
        "\n"
        "statement ok\n"
        "insert into t values (1, 1.5), (NULL, 2.0)\n"
        "\n"
        "query IR rowsort\n"
        "select v1, v2 from t\n"
        "----\n"
        "1 1.5\n"
        "NULL 2\n"
        "\n"
        "statement error\n"
        "select boom from t\n"
    )
    result = run_slt_file(str(p), spark)
    assert result.ok, "\n".join(result.failures)
    assert result.total == 4


def test_ordered_compare_only_for_top_level_order_by():
    from qurious_spark.testing.slt import _is_top_level_ordered

    assert _is_top_level_ordered("SELECT a FROM t ORDER BY a")
    assert _is_top_level_ordered("select a from t order   by a limit 3")
    # subquery / window / string-literal ORDER BY are not orderings of the result
    assert not _is_top_level_ordered(
        "SELECT * FROM (SELECT a FROM t ORDER BY a LIMIT 5) s"
    )
    assert not _is_top_level_ordered(
        "SELECT rank() OVER (ORDER BY a) FROM t"
    )
    assert not _is_top_level_ordered("SELECT 'order by' AS s FROM t")
    assert not _is_top_level_ordered("SELECT ordering FROM t")


def test_order_token_not_followed_by_by_is_skipped():
    from qurious_spark.testing.slt import _is_top_level_ordered

    # a top-level ORDER token that is not ORDER BY must not stop the scan
    assert _is_top_level_ordered('SELECT "order" FROM t ORDER BY 1')
    assert not _is_top_level_ordered('SELECT "order" FROM t')
    assert _is_top_level_ordered("SELECT ordering, x FROM t ORDER   BY x")


def test_quoted_identifiers_do_not_force_ordered_compare():
    from qurious_spark.testing.slt import _is_top_level_ordered

    # ADVICE r3: a double-quoted (or backtick) identifier containing
    # "order by" is not a top-level ORDER BY
    assert not _is_top_level_ordered('SELECT a AS "order by" FROM t')
    assert not _is_top_level_ordered("SELECT a AS `order by` FROM t")
    assert _is_top_level_ordered('SELECT a AS "order by" FROM t ORDER BY a')


class _TieBreakOracle:
    """DuckDB wrapper that answers ordered-LIMIT queries with a DIFFERENT
    (but equally legal) tied top-k, simulating a tie at the cutoff. The
    harness's strict re-run appends explicit NULLS FIRST ordinal tiebreaks
    (a total order, under which a real engine has no tie freedom), so the
    simulation only applies to queries without them."""

    def __init__(self, con):
        self.con = con

    def sql(self, q):
        if "LIMIT" in q.upper() and "ORDER BY" in q.upper() and "NULLS FIRST" not in q:
            q = q.replace("ORDER BY v DESC", "ORDER BY v DESC, k DESC")
        return self.con.sql(q)


class _OrderBugOracle:
    """DuckDB wrapper that disagrees with the engine on sort DIRECTION for
    every query — from the harness's viewpoint this is indistinguishable
    from the engine sorting ASC where the query says DESC (the round-6
    advisor scenario the multiset fallback used to mask)."""

    def __init__(self, con):
        self.con = con

    def sql(self, q):
        return self.con.sql(q.replace("ORDER BY v DESC", "ORDER BY v ASC"))


def test_oracle_ordered_limit_tie_fallback(spark, tmp_path):
    """ORDER BY ... LIMIT with ties at the cutoff: both engines may pick a
    legal-but-different top-k; the oracle gate falls back to an un-limited
    multiset compare instead of failing on the non-bug (round-5 advisor
    finding) — while a genuine value bug still fails."""
    import duckdb

    slt = tmp_path / "tie.slt"
    slt.write_text(
        "statement ok\n"
        "CREATE TABLE tie_t (k BIGINT, v BIGINT)\n"
        "\n"
        "statement ok\n"
        "INSERT INTO tie_t VALUES (1, 10), (2, 10), (3, 10), (4, 0)\n"
        "\n"
        "query II\n"
        "SELECT k, v FROM tie_t ORDER BY v DESC LIMIT 2\n"
        "----\n"
        "ignored (oracle mode recomputes)\n"
    )
    con = duckdb.connect()
    con.sql("CREATE TABLE tie_t (k BIGINT, v BIGINT)")
    con.sql("INSERT INTO tie_t VALUES (1, 10), (2, 10), (3, 10), (4, 0)")
    r = run_slt_file(str(slt), spark, oracle=_TieBreakOracle(con))
    assert r.ok, "\n".join(r.failures)

    # negative control: a value difference inside the tied set is NOT
    # masked — the un-limited multisets differ too
    con2 = duckdb.connect()
    con2.sql("CREATE TABLE tie_t (k BIGINT, v BIGINT)")
    con2.sql("INSERT INTO tie_t VALUES (1, 99), (2, 10), (3, 10), (4, 0)")
    r2 = run_slt_file(str(slt), spark, oracle=_TieBreakOracle(con2))
    assert not r2.ok

    # negative control 2 (round-6 advisor finding): a genuine ORDERING bug
    # — wrong direction returns the wrong k rows, yet the unlimited
    # multisets agree — must NOT be rescued by the multiset fallback: the
    # tiebroken strict re-run catches the divergence
    con3 = duckdb.connect()
    con3.sql("CREATE TABLE tie_t (k BIGINT, v BIGINT)")
    con3.sql("INSERT INTO tie_t VALUES (1, 10), (2, 10), (3, 10), (4, 0)")
    r3 = run_slt_file(str(slt), spark, oracle=_OrderBugOracle(con3))
    assert not r3.ok
    assert "ordering bug" in "\n".join(r3.failures)
