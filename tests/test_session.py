"""End-to-end Session tests: DDL/DML, dialect shim, managed tables.

Mirrors the reference's session-level SQL tests
(qurious/src/execution/session.rs:425-503) and the slt corpus themes
(create/insert/delete/group_by/join — SURVEY.md §5).
"""

import math
import os
import tempfile
from decimal import Decimal

import pytest

from tests.conftest import job_ids


@pytest.fixture()
def fresh(session):
    """Drop any tables a test creates (fresh-session-per-file analogue)."""
    created = []
    orig = session.sql

    def tracking_sql(text):
        r = orig(text)
        stripped = text.strip().upper()
        if stripped.startswith("CREATE TABLE"):
            import re

            m = re.match(r"CREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?([\w.]+)", text.strip(), re.I)
            if m:
                created.append(m.group(1))
        return r

    session.sql = tracking_sql
    yield session
    session.sql = orig
    for t in created:
        try:
            session.sql(f"DROP TABLE IF EXISTS {t}")
        except Exception:
            pass


def test_create_insert_select(fresh):
    fresh.sql("CREATE TABLE t_cis (v1 INT, v2 INT)")
    fresh.sql("INSERT INTO t_cis VALUES (1, 1), (2, 1), (3, 2)")
    rows = fresh.sql("SELECT v2, count(*) AS c FROM t_cis GROUP BY v2 ORDER BY v2").collect()
    assert [(r.v2, r.c) for r in rows] == [(1, 2), (2, 1)]


@pytest.mark.parametrize(
    "column, value, dtype",
    [
        ("INT DEFAULT 42", 42, "bigint"),
        ("DOUBLE DEFAULT 1.5", 1.5, "double"),
        ("BIGINT DEFAULT 3000000000", 3000000000, "bigint"),
        ("DECIMAL(10,2) DEFAULT 0.1", Decimal("0.10"), "decimal(10,2)"),
        ("BOOLEAN DEFAULT true", True, "boolean"),
        ("VARCHAR DEFAULT 'it''s'", "it's", "string"),
        # stored as written, backslash and all (no escape processing)
        ("VARCHAR DEFAULT 'C:\\temp'", "C:\\temp", "string"),
    ],
    ids=["int", "double", "bigint", "decimal", "boolean", "quote", "backslash"],
)
def test_insert_column_subset_defaults(fresh, column, value, dtype):
    # reference: tests/sql/insert.slt column-subset/default/NULL paths; the
    # default is rendered as a typed SQL literal, so its value and type must
    # survive that rendering on both INSERT (cols) and MERGE INSERT (cols)
    fresh.sql(f"CREATE TABLE t_def (a INT, b {column}, c VARCHAR)")
    fresh.sql("INSERT INTO t_def (a) VALUES (1)")
    fresh.sql("INSERT INTO t_def (a, c) VALUES (2, 'x')")
    fresh.sql(
        "MERGE INTO t_def t USING (SELECT 3 AS a) s ON t.a = s.a "
        "WHEN NOT MATCHED THEN INSERT (a) VALUES (s.a)"
    )
    df = fresh.sql("SELECT a, b, c FROM t_def ORDER BY a")
    assert df.schema["b"].dataType.simpleString() == dtype
    assert [tuple(r) for r in df.collect()] == [(1, value, None), (2, value, "x"), (3, value, None)]


def test_insert_select_from(fresh):
    fresh.sql("CREATE TABLE t_src (a INT)")
    fresh.sql("INSERT INTO t_src VALUES (1), (2)")
    fresh.sql("CREATE TABLE t_dst (a INT)")
    fresh.sql("INSERT INTO t_dst SELECT a * 10 FROM t_src")
    assert fresh.sql("SELECT SUM(a) AS s FROM t_dst").collect()[0].s == 30


def test_delete(fresh):
    fresh.sql("CREATE TABLE t_del (v INT)")
    fresh.sql("INSERT INTO t_del VALUES (1), (2), (3)")
    fresh.sql("DELETE FROM t_del WHERE v >= 2")
    assert [r.v for r in fresh.sql("SELECT v FROM t_del").collect()] == [1]


def test_update(fresh):
    # The reference plans UPDATE but cannot execute it (session.rs:130-134);
    # we implement it (SURVEY.md §7.4.6).
    fresh.sql("CREATE TABLE t_upd (k INT, v INT)")
    fresh.sql("INSERT INTO t_upd VALUES (1, 10), (2, 20)")
    fresh.sql("UPDATE t_upd SET v = v + 5 WHERE k = 2")
    rows = fresh.sql("SELECT k, v FROM t_upd ORDER BY k").collect()
    assert [(r.k, r.v) for r in rows] == [(1, 10), (2, 25)]


def test_ctas(fresh):
    fresh.sql("CREATE TABLE t_ctas AS SELECT r_regionkey, r_name FROM region")
    assert fresh.sql("SELECT count(*) AS c FROM t_ctas").collect()[0].c == 5


def test_read_csv_table_function(fresh):
    d = tempfile.mkdtemp()
    p = os.path.join(d, "f.csv")
    with open(p, "w") as fh:
        fh.write("id,name\n1,alice\n2,bob\n")
    rows = fresh.sql(f"SELECT id, name FROM read_csv('{p}') ORDER BY id").collect()
    assert [(r.id, r.name) for r in rows] == [(1, "alice"), (2, "bob")]
    # a ')' inside an option literal does not end the argument list
    p2 = os.path.join(d, "g.csv")
    with open(p2, "w") as fh:
        fh.write("id)name\n1)carol\n")
    rows = fresh.sql(f"SELECT id, name FROM read_csv('{p2}', delimiter=>')')").collect()
    assert [(r.id, r.name) for r in rows] == [(1, "carol")]
    # an option not in ``name => value`` form raises instead of being dropped
    with pytest.raises(ValueError, match="cannot parse option"):
        fresh.sql(f"SELECT * FROM read_csv('{p}', delimiter '|')")


def test_copy_from_tbl(fresh):
    d = tempfile.mkdtemp()
    p = os.path.join(d, "x.tbl")
    with open(p, "w") as fh:
        fh.write("1|a\n2|b\n")
    fresh.sql("CREATE TABLE t_copy (k INT, s VARCHAR)")
    n = fresh.sql(f"COPY t_copy FROM '{p}' (DELIMITER '|')").collect()[0][0]
    assert n == 2
    assert fresh.sql("SELECT count(*) AS c FROM t_copy").collect()[0].c == 2
    # a missing file fails the statement itself, not a later read
    with pytest.raises(Exception, match="PATH_NOT_FOUND|does not exist"):
        fresh.sql(f"COPY t_copy FROM '{os.path.join(d, 'missing.tbl')}'")
    assert fresh.sql("SELECT count(*) AS c FROM t_copy").collect()[0].c == 2


def test_show_tables(fresh):
    fresh.sql("CREATE TABLE t_show (a INT)")
    names = [r.table_name for r in fresh.sql("SHOW TABLES").collect()]
    assert "t_show" in names


def test_errors(fresh):
    with pytest.raises(ValueError):
        fresh.sql("DROP TABLE never_existed")
    fresh.sql("CREATE TABLE t_err (a INT)")
    with pytest.raises(ValueError):
        fresh.sql("CREATE TABLE t_err (b INT)")
    with pytest.raises(ValueError):
        fresh.sql("INSERT INTO region VALUES (1, 'x')")  # not managed


def test_kleene_and_null_semantics(session):
    # AND/OR are Kleene 3-valued (reference: binary.rs and_kleene/or_kleene)
    row = session.sql(
        "SELECT (NULL AND FALSE) AS a, (NULL AND TRUE) AS b, (NULL OR TRUE) AS c, (NULL OR FALSE) AS d"
    ).collect()[0]
    assert row.a is False and row.b is None and row.c is True and row.d is None


def test_distinct_honored(session):
    # reference silently ignores SELECT DISTINCT (SURVEY.md §2.4) — we honor it
    n = session.sql("SELECT DISTINCT l_returnflag FROM lineitem").count()
    assert n == 3


def test_dataframe_fluent_api(spark, session):
    # entry point B parity (reference: qurious/src/dataframe/mod.rs:15-59)
    from pyspark.sql import functions as F

    df = (
        session.table("lineitem")
        .filter(F.col("l_quantity") > 45)
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("c"))
        .orderBy("l_returnflag")
    )
    rows = df.collect()
    assert len(rows) == 3 and all(r.c > 0 for r in rows)


def test_register_udf_pandas(session):
    # vectorized scalar UDF surface (reference UDF trait:
    # qurious/src/functions/mod.rs:10-21 — Arrow-native eval over arrays;
    # our analogue is an Arrow-batched pandas_udf registered by name)
    import pandas as pd

    def double_plus_one(s: pd.Series) -> pd.Series:
        return s * 2 + 1

    session.register_udf("DOUBLE_PLUS_ONE", double_plus_one, "double")
    row = session.sql(
        "SELECT DOUBLE_PLUS_ONE(l_quantity) AS v FROM lineitem ORDER BY l_orderkey, l_linenumber LIMIT 1"
    ).collect()[0]
    base = session.sql(
        "SELECT l_quantity FROM lineitem ORDER BY l_orderkey, l_linenumber LIMIT 1"
    ).collect()[0]
    assert row.v == base.l_quantity * 2 + 1


def test_qualified_table_names(fresh):
    # reference name forms: t / public.t / qurious.public.t
    # (qurious/src/common/table_relation.rs:8-38; defaults config.rs:1-13)
    fresh.sql("CREATE TABLE qualname_t (a INT)")
    fresh.sql("INSERT INTO public.qualname_t VALUES (1)")
    fresh.sql("INSERT INTO qurious.public.qualname_t VALUES (2)")
    assert fresh.sql("SELECT count(*) AS c FROM public.qualname_t").collect()[0].c == 2
    assert (
        fresh.sql("SELECT count(*) AS c FROM qurious.public.qualname_t").collect()[0].c
        == 2
    )
    fresh.sql("DROP TABLE qurious.public.qualname_t")
    import pytest as _pytest

    with _pytest.raises(Exception):
        fresh.sql("SELECT * FROM qualname_t").collect()


def test_aggregate_decimal_typing_rules(session):
    # reference return-type rules (SURVEY §2.4): SUM keeps the input decimal
    # family; AVG(decimal(p,s)) -> decimal(p+4, s+4)
    # (qurious/src/logical/expr/aggregate.rs:67-93). Spark's rules match.
    df = session.sql(
        "SELECT SUM(CAST(v AS DECIMAL(10,2))) AS s, AVG(CAST(v AS DECIMAL(10,2))) AS a "
        "FROM (VALUES (1.50), (2.25)) t(v)"
    )
    types = dict(df.dtypes)
    assert types["s"].startswith("decimal"), types
    assert types["a"] == "decimal(14,6)", types  # (10+4, 2+4)
    row = df.collect()[0]
    assert float(row.s) == 3.75 and float(row.a) == 1.875


def test_merge_upsert(fresh):
    # SQL:2003 MERGE: update / delete / insert arms, first-match-wins
    fresh.sql("CREATE TABLE m_tgt (k BIGINT, name VARCHAR, total DOUBLE)")
    fresh.sql("INSERT INTO m_tgt VALUES (1, 'a', 10.0), (2, 'b', 20.0), (3, 'c', 30.0)")
    fresh.sql("CREATE TABLE m_src (k BIGINT, amt DOUBLE)")
    fresh.sql("INSERT INTO m_src VALUES (1, 100.0), (2, 1.0), (9, 9.0)")
    fresh.sql(
        """
        MERGE INTO m_tgt t USING m_src s ON t.k = s.k
        WHEN MATCHED AND s.amt > 50 THEN UPDATE SET total = s.amt
        WHEN MATCHED THEN DELETE
        WHEN NOT MATCHED THEN INSERT (k, name, total) VALUES (s.k, 'new', s.amt)
        """
    )
    rows = fresh.sql("SELECT k, name, total FROM m_tgt ORDER BY k").collect()
    # k=1 updated (amt>50), k=2 deleted, k=3 untouched, k=9 inserted
    assert [(r.k, r.name, r.total) for r in rows] == [
        (1, "a", 100.0),
        (3, "c", 30.0),
        (9, "new", 9.0),
    ]


def test_merge_insert_star_and_subquery_source(fresh):
    fresh.sql("CREATE TABLE m2_tgt (k BIGINT, v BIGINT)")
    fresh.sql("INSERT INTO m2_tgt VALUES (1, 1)")
    fresh.sql(
        """
        MERGE INTO m2_tgt t
        USING (SELECT 1 AS k, 5 AS v UNION ALL SELECT 7 AS k, 70 AS v) s
        ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET v = s.v + t.v
        WHEN NOT MATCHED THEN INSERT *
        """
    )
    rows = fresh.sql("SELECT k, v FROM m2_tgt ORDER BY k").collect()
    assert [(r.k, r.v) for r in rows] == [(1, 6), (7, 70)]


def test_merge_multiple_match_error(fresh):
    fresh.sql("CREATE TABLE m3_tgt (k BIGINT)")
    fresh.sql("INSERT INTO m3_tgt VALUES (1)")
    fresh.sql("CREATE TABLE m3_src (k BIGINT)")
    fresh.sql("INSERT INTO m3_src VALUES (1), (1)")
    with pytest.raises(ValueError, match="more than one source row"):
        fresh.sql(
            "MERGE INTO m3_tgt t USING m3_src s ON t.k = s.k "
            "WHEN MATCHED THEN UPDATE SET k = s.k"
        )
    assert fresh.tables["m3_tgt"].version == 1
    assert [tuple(r) for r in fresh.sql("SELECT k FROM m3_tgt").collect()] == [(1,)]


def test_truncate(fresh):
    fresh.sql("CREATE TABLE tr_t (a INT, b VARCHAR DEFAULT 'd')")
    fresh.sql("INSERT INTO tr_t VALUES (1, 'x'), (2, 'y')")
    fresh.sql("TRUNCATE TABLE tr_t")
    assert fresh.sql("SELECT count(*) AS c FROM tr_t").collect()[0].c == 0
    # schema + defaults survive
    fresh.sql("INSERT INTO tr_t (a) VALUES (3)")
    rows = fresh.sql("SELECT a, b FROM tr_t").collect()
    assert [(r.a, r.b) for r in rows] == [(3, "d")]


def test_not_null_enforced(fresh):
    # the reference parses NOT NULL but never enforces it; we do
    fresh.sql("CREATE TABLE nn_t (a INT NOT NULL, b VARCHAR)")
    fresh.sql("INSERT INTO nn_t VALUES (1, 'x')")
    with pytest.raises(ValueError, match="NOT NULL"):
        fresh.sql("INSERT INTO nn_t VALUES (NULL, 'y')")
    with pytest.raises(ValueError, match="NOT NULL"):
        fresh.sql("INSERT INTO nn_t (b) VALUES ('no-default-for-a')")
    with pytest.raises(ValueError, match="NOT NULL"):
        fresh.sql("UPDATE nn_t SET a = NULL WHERE b = 'x'")
    # untouched row still there; constraint with DEFAULT satisfies inserts
    assert fresh.sql("SELECT count(*) AS c FROM nn_t").collect()[0].c == 1
    fresh.sql("CREATE TABLE nn_d (a INT NOT NULL DEFAULT 7, b VARCHAR)")
    fresh.sql("INSERT INTO nn_d (b) VALUES ('y')")
    assert fresh.sql("SELECT a FROM nn_d").collect()[0].a == 7


def test_not_null_enforced_on_merge_update_arm(fresh):
    # matched-update arms must hit the same constraint INSERT/UPDATE do
    fresh.sql("CREATE TABLE nn_m (k INT NOT NULL, v VARCHAR NOT NULL)")
    fresh.sql("INSERT INTO nn_m VALUES (1, 'x'), (2, 'y')")
    with pytest.raises(ValueError, match="NOT NULL"):
        fresh.sql(
            """
            MERGE INTO nn_m t
            USING (SELECT 1 AS k) s ON t.k = s.k
            WHEN MATCHED THEN UPDATE SET v = NULL
            """
        )
    # table state unchanged after the rejected merge
    assert fresh.sql("SELECT count(*) AS c FROM nn_m WHERE v IS NOT NULL").collect()[0].c == 2
    # an update arm not touching constrained columns still goes through
    fresh.sql("CREATE TABLE nn_m2 (k INT NOT NULL, v VARCHAR)")
    fresh.sql("INSERT INTO nn_m2 VALUES (1, 'x')")
    fresh.sql(
        """
        MERGE INTO nn_m2 t
        USING (SELECT 1 AS k) s ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET v = NULL
        """
    )
    assert fresh.sql("SELECT v FROM nn_m2").collect()[0].v is None


def test_time_travel_version_as_of(fresh):
    fresh.sql("CREATE TABLE tt (a INT)")                       # v0: empty
    fresh.sql("INSERT INTO tt VALUES (1), (2)")                # v1
    fresh.sql("DELETE FROM tt WHERE a = 1")                    # v2
    fresh.sql("UPDATE tt SET a = 99 WHERE a = 2")              # v3
    assert fresh.sql("SELECT count(*) AS c FROM tt VERSION AS OF 0").collect()[0].c == 0
    assert sorted(
        r.a for r in fresh.sql("SELECT a FROM tt VERSION AS OF 1").collect()
    ) == [1, 2]
    assert [r.a for r in fresh.sql("SELECT a FROM tt VERSION AS OF 2").collect()] == [2]
    assert [r.a for r in fresh.sql("SELECT a FROM tt").collect()] == [99]
    # old versions beyond the ring are pruned; bogus versions error
    with pytest.raises(ValueError, match="not available"):
        fresh.sql("SELECT * FROM tt VERSION AS OF 42")


def test_time_travel_history_is_immutable_after_merge(fresh):
    fresh.sql("CREATE TABLE tt2 (k BIGINT, v BIGINT)")
    fresh.sql("INSERT INTO tt2 VALUES (1, 10)")                # v1
    fresh.sql(
        "MERGE INTO tt2 t USING (SELECT 1 AS k, 11 AS v UNION ALL SELECT 2, 20) s "
        "ON t.k = s.k WHEN MATCHED THEN UPDATE SET v = s.v "
        "WHEN NOT MATCHED THEN INSERT *"
    )                                                          # v2
    assert {(r.k, r.v) for r in fresh.sql("SELECT * FROM tt2 VERSION AS OF 1").collect()} == {(1, 10)}
    assert {(r.k, r.v) for r in fresh.sql("SELECT * FROM tt2").collect()} == {(1, 11), (2, 20)}


def test_describe_history(fresh):
    fresh.sql("CREATE TABLE dh (a INT)")
    fresh.sql("INSERT INTO dh VALUES (1)")
    fresh.sql("INSERT INTO dh VALUES (2)")
    rows = fresh.sql("DESCRIBE HISTORY dh").collect()
    assert [r.version for r in rows] == [2, 1, 0]
    assert [r.is_current for r in rows] == [True, False, False]


def test_create_duplicate_qualified_name(fresh):
    fresh.sql("CREATE TABLE dupq (a INT)")
    with pytest.raises(ValueError, match="already exists"):
        fresh.sql("CREATE TABLE public.dupq (a INT)")
    with pytest.raises(ValueError, match="already exists"):
        fresh.sql("CREATE TABLE qurious.public.dupq (a INT)")
    # IF NOT EXISTS through a qualified name is a no-op, not an error
    fresh.sql("CREATE TABLE IF NOT EXISTS public.dupq (a INT)")


def test_information_schema_tables_queryable(fresh):
    # reference: SHOW TABLES is sugar over a REAL information_schema.tables
    # relation (execution/information_schema.rs:12-46) — direct SELECTs work
    fresh.sql("CREATE TABLE ist_t (a INT)")
    rows = fresh.sql(
        "SELECT table_catalog, table_schema, table_name FROM information_schema.tables "
        "WHERE table_name = 'ist_t'"
    ).collect()
    assert [(r.table_catalog, r.table_schema, r.table_name) for r in rows] == [
        ("qurious", "public", "ist_t")
    ]
    n = fresh.sql(
        "SELECT count(*) AS c FROM information_schema.tables"
    ).collect()[0].c
    assert n >= 1


def test_information_schema_in_string_literal_untouched(fresh):
    row = fresh.sql("SELECT 'see information_schema.tables' AS s").collect()[0]
    assert row.s == "see information_schema.tables"


def test_information_schema_view_not_leaked(session):
    df = session.sql("SELECT table_name FROM information_schema.tables ORDER BY 1")
    rows = df.collect()  # plan resolved at analysis; view already dropped
    assert rows is not None
    leaked = [
        v.name
        for v in session.spark.catalog.listTables()
        if v.name.startswith("q_information_schema_tables_")
    ]
    assert leaked == []


def test_update_from_join(fresh):
    # Postgres/DuckDB UPDATE ... FROM, desugared to the MERGE machinery
    # (dialect.py): join-based update with source-qualified expressions.
    fresh.sql("CREATE TABLE uf_t (k BIGINT, v BIGINT)")
    fresh.sql("INSERT INTO uf_t VALUES (1, 10), (2, 20), (3, 30)")
    fresh.sql("CREATE TABLE uf_s (k BIGINT, nv BIGINT)")
    fresh.sql("INSERT INTO uf_s VALUES (1, 100), (3, 300)")
    fresh.sql("UPDATE uf_t SET v = uf_s.nv FROM uf_s WHERE uf_t.k = uf_s.k")
    rows = {r.k: r.v for r in fresh.sql("SELECT k, v FROM uf_t").collect()}
    assert rows == {1: 100, 2: 20, 3: 300}


def test_update_from_subquery_source_and_expression(fresh):
    fresh.sql("CREATE TABLE uf2_t (k BIGINT, v BIGINT)")
    fresh.sql("INSERT INTO uf2_t VALUES (1, 10), (2, 20)")
    fresh.sql("CREATE TABLE uf2_s (k BIGINT, d BIGINT)")
    fresh.sql("INSERT INTO uf2_s VALUES (2, 7)")
    fresh.sql("UPDATE uf2_t SET v = v + u.d FROM (SELECT k, d FROM uf2_s) u WHERE uf2_t.k = u.k")
    rows = {r.k: r.v for r in fresh.sql("SELECT k, v FROM uf2_t").collect()}
    assert rows == {1: 10, 2: 27}


def test_update_from_subquery_lowercase_as_alias(fresh):
    # the UPDATE regex is case-insensitive, so a lowercase 'as' before the
    # subquery alias must parse too (used to leave src_alias = 'as u')
    fresh.sql("CREATE TABLE uf4_t (k BIGINT, v BIGINT)")
    fresh.sql("INSERT INTO uf4_t VALUES (1, 10), (2, 20)")
    fresh.sql("CREATE TABLE uf4_s (k BIGINT, d BIGINT)")
    fresh.sql("INSERT INTO uf4_s VALUES (2, 7)")
    fresh.sql("UPDATE uf4_t SET v = v + u.d FROM (SELECT k, d FROM uf4_s) as u WHERE uf4_t.k = u.k")
    rows = {r.k: r.v for r in fresh.sql("SELECT k, v FROM uf4_t").collect()}
    assert rows == {1: 10, 2: 27}


def test_update_from_multi_match_rejected(fresh):
    import pytest as _pytest

    fresh.sql("CREATE TABLE uf3_t (k BIGINT, v BIGINT)")
    fresh.sql("INSERT INTO uf3_t VALUES (1, 10)")
    fresh.sql("CREATE TABLE uf3_s (k BIGINT, nv BIGINT)")
    fresh.sql("INSERT INTO uf3_s VALUES (1, 100), (1, 200)")
    with _pytest.raises(ValueError, match="more than one source row"):
        fresh.sql("UPDATE uf3_t SET v = uf3_s.nv FROM uf3_s WHERE uf3_t.k = uf3_s.k")


def test_explain_statement_returns_plan_lines(fresh):
    fresh.sql("CREATE TABLE exp_t (k BIGINT, v VARCHAR)")
    fresh.sql("INSERT INTO exp_t VALUES (1, 'a'), (2, 'b')")
    plan = "\n".join(
        r.plan_line
        for r in fresh.sql("EXPLAIN SELECT k, count(*) AS n FROM exp_t GROUP BY k").collect()
    )
    assert "Physical Plan" in plan and "HashAggregate" in plan
    ext = "\n".join(
        r.plan_line for r in fresh.sql("EXPLAIN EXTENDED SELECT * FROM exp_t").collect()
    )
    assert "Analyzed Logical Plan" in ext
    # the inner query goes through the dialect shim: table functions work
    import os, tempfile
    out = os.path.join(tempfile.mkdtemp(prefix="q_explain_"), "c")
    fresh.sql(f"COPY exp_t TO '{out}' (FORMAT CSV, HEADER)")
    p2 = "\n".join(
        r.plan_line for r in fresh.sql(f"EXPLAIN SELECT * FROM read_csv('{out}')").collect()
    )
    assert "Scan csv" in p2 or "FileScan" in p2 or "Scan" in p2


def test_explain_ddl_dml_rejected_and_does_not_execute(fresh):
    """EXPLAIN of a mutation must not run it (round-5 advisor finding:
    _explain used to call self.sql on the inner text, executing the DML)."""
    import pytest as _pytest

    fresh.sql("CREATE TABLE exp_m (k BIGINT)")
    fresh.sql("INSERT INTO exp_m VALUES (1)")
    with _pytest.raises(ValueError, match="EXPLAIN of a DDL/DML"):
        fresh.sql("EXPLAIN INSERT INTO exp_m VALUES (2)")
    with _pytest.raises(ValueError, match="EXPLAIN of a DDL/DML"):
        fresh.sql("EXPLAIN FORMATTED DELETE FROM exp_m WHERE k = 1")
    assert fresh.sql("SELECT count(*) AS n FROM exp_m").collect()[0].n == 1


def test_qualify_order_by_unselected_base_column(fresh):
    """DuckDB-legal: ORDER BY a base column the select list doesn't expose,
    on a QUALIFY query (round-5 advisor finding)."""
    fresh.sql("CREATE TABLE q_ob (k BIGINT, grp VARCHAR, v BIGINT)")
    fresh.sql(
        "INSERT INTO q_ob VALUES (1,'a',10),(2,'a',20),(3,'b',50),(4,'b',5)"
    )
    rows = fresh.sql(
        "SELECT grp, v FROM q_ob "
        "QUALIFY row_number() OVER (PARTITION BY grp ORDER BY v DESC) = 1 "
        "ORDER BY k"
    ).collect()
    assert [(r.grp, r.v) for r in rows] == [("a", 20), ("b", 50)]
    assert list(rows[0].asDict().keys()) == ["grp", "v"]


def test_env_bool_normalization(monkeypatch):
    """SPARK_GRAFT_AQE-style env values normalize to Spark's true/false
    at session build time; unrecognized values raise immediately instead
    of failing later with an opaque IllegalArgumentException (ADVICE r10)."""
    from qurious_spark.session import _env_bool

    for raw, want in [
        ("true", "true"), ("TRUE", "true"), (" 1 ", "true"),
        ("yes", "true"), ("on", "true"),
        ("false", "false"), ("False ", "false"), ("0", "false"),
        ("no", "false"), ("OFF", "false"),
    ]:
        monkeypatch.setenv("SPARK_GRAFT_AQE", raw)
        assert _env_bool("SPARK_GRAFT_AQE", "true") == want, raw
    monkeypatch.delenv("SPARK_GRAFT_AQE")
    assert _env_bool("SPARK_GRAFT_AQE", "true") == "true"
    monkeypatch.setenv("SPARK_GRAFT_AQE", "maybe")
    with pytest.raises(ValueError, match="SPARK_GRAFT_AQE"):
        _env_bool("SPARK_GRAFT_AQE", "true")


def test_session_tz_env_knob_guarded_on_reuse(spark, monkeypatch):
    """SPARK_GRAFT_SESSION_TZ is a perturbation axis like AQE/ANSI: a value
    matching the active session reuses it; a mismatch set after session
    build raises instead of silently running in the wrong zone (the env can
    only take effect in a fresh process)."""
    from qurious_spark.session import get_spark

    monkeypatch.setenv(
        "SPARK_GRAFT_SESSION_TZ", spark.conf.get("spark.sql.session.timeZone")
    )
    assert get_spark() is spark
    monkeypatch.setenv("SPARK_GRAFT_SESSION_TZ", "America/New_York")
    with pytest.raises(RuntimeError, match="SPARK_GRAFT_SESSION_TZ"):
        get_spark()


def test_parse_bytes_spark_suffixes():
    """_parse_bytes accepts every spelling Spark's byte-size confs accept:
    bare ints, single-letter (64m), two-letter (64mb), and binary (64mib)
    suffixes all compare equal (ADVICE r11: '64mb' parsed to None and made
    _check_env_conf raise spuriously on a matching session)."""
    from qurious_spark.session import _parse_bytes

    assert _parse_bytes("67108864") == 64 << 20
    assert _parse_bytes("64m") == 64 << 20
    assert _parse_bytes("64mb") == 64 << 20
    assert _parse_bytes("64mib") == 64 << 20
    assert _parse_bytes("64MB") == 64 << 20
    assert _parse_bytes("1kb") == 1 << 10
    assert _parse_bytes("2g") == _parse_bytes("2gb") == _parse_bytes("2gib") == 2 << 30
    assert _parse_bytes("1tb") == 1 << 40
    assert _parse_bytes("-1") == -1
    # a bare 'b' suffix is bytes, not a stripped prefix
    assert _parse_bytes("10b") == 10
    assert _parse_bytes("b") is None
    assert _parse_bytes("64xb") is None
    assert _parse_bytes("not-a-size") is None


def test_get_spark_rejects_stale_env_on_reuse(spark, monkeypatch):
    """A perturbation env var set AFTER the session exists must raise, not
    silently return the old session — an independence-gate run that way
    would report a vacuous pass (ADVICE r10)."""
    from qurious_spark.session import get_spark

    # matching values reuse fine (session built with AQE/ANSI defaults on)
    monkeypatch.setenv("SPARK_GRAFT_AQE", spark.conf.get("spark.sql.adaptive.enabled"))
    assert get_spark() is spark
    monkeypatch.setenv("SPARK_GRAFT_AQE", "maybe")
    with pytest.raises(ValueError, match="SPARK_GRAFT_AQE"):
        get_spark()
    # a mismatching explicit request raises with a fresh-process hint
    flipped = "false" if spark.conf.get("spark.sql.adaptive.enabled") == "true" else "true"
    monkeypatch.setenv("SPARK_GRAFT_AQE", flipped)
    with pytest.raises(RuntimeError, match="fresh process"):
        get_spark()
    monkeypatch.delenv("SPARK_GRAFT_AQE")
    monkeypatch.setenv(
        "SPARK_GRAFT_BROADCAST_THRESHOLD",
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold"),
    )
    assert get_spark() is spark
    # semantically-equal byte spellings must NOT raise ('64m' == 67108864)
    have = int(spark.conf.get("spark.sql.autoBroadcastJoinThreshold"))
    if have > 0 and have % (1 << 20) == 0:
        monkeypatch.setenv("SPARK_GRAFT_BROADCAST_THRESHOLD", f"{have >> 20}m")
        assert get_spark() is spark
    monkeypatch.setenv("SPARK_GRAFT_BROADCAST_THRESHOLD", "-1")
    with pytest.raises(RuntimeError, match="fresh process"):
        get_spark()
    monkeypatch.delenv("SPARK_GRAFT_BROADCAST_THRESHOLD")
    # the partitioning axis is guarded too (SCALE.md's perturbation gate)
    monkeypatch.setenv(
        "SPARK_GRAFT_SHUFFLE_PARTITIONS",
        str(int(spark.conf.get("spark.sql.shuffle.partitions")) + 1),
    )
    with pytest.raises(RuntimeError, match="fresh process"):
        get_spark()


def test_codegen_env_knob_guarded_on_reuse(spark, monkeypatch):
    """SPARK_GRAFT_CODEGEN is a perturbation axis like AQE/ANSI: a value
    matching the active session reuses it; a mismatch set after session
    build raises instead of silently benchmarking the wrong execution
    path (the env can only take effect in a fresh process)."""
    from qurious_spark.session import get_spark

    monkeypatch.setenv(
        "SPARK_GRAFT_CODEGEN", spark.conf.get("spark.sql.codegen.wholeStage")
    )
    assert get_spark() is spark
    flipped = (
        "false" if spark.conf.get("spark.sql.codegen.wholeStage") == "true" else "true"
    )
    monkeypatch.setenv("SPARK_GRAFT_CODEGEN", flipped)
    with pytest.raises(RuntimeError, match="SPARK_GRAFT_CODEGEN"):
        get_spark()


def test_arrow_batch_env_knob_guarded_on_reuse(spark, monkeypatch):
    """SPARK_GRAFT_ARROW_BATCH (Arrow maxRecordsPerBatch) is guarded the
    same way: the batch-size-independence gate must run in a fresh process
    or it would vacuously re-test the default batch size."""
    from qurious_spark.session import get_spark

    monkeypatch.setenv(
        "SPARK_GRAFT_ARROW_BATCH",
        spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"),
    )
    assert get_spark() is spark
    monkeypatch.setenv("SPARK_GRAFT_ARROW_BATCH", "64")
    with pytest.raises(RuntimeError, match="SPARK_GRAFT_ARROW_BATCH"):
        get_spark()


def test_max_partition_bytes_env_knob_guarded_on_reuse(spark, monkeypatch):
    """SPARK_GRAFT_MAX_PARTITION_BYTES (scan-split sizing) joins the
    guarded perturbation axes: the scan-split-independence gate must run
    in a fresh process; semantically-equal byte spellings reuse fine."""
    from qurious_spark.session import get_spark, _parse_bytes

    have = spark.conf.get("spark.sql.files.maxPartitionBytes")
    monkeypatch.setenv("SPARK_GRAFT_MAX_PARTITION_BYTES", have)
    assert get_spark() is spark
    hb = _parse_bytes(have)
    if hb is not None and hb % (1 << 20) == 0:
        monkeypatch.setenv("SPARK_GRAFT_MAX_PARTITION_BYTES", f"{hb >> 20}m")
        assert get_spark() is spark
    monkeypatch.setenv("SPARK_GRAFT_MAX_PARTITION_BYTES", "256k")
    with pytest.raises(RuntimeError, match="SPARK_GRAFT_MAX_PARTITION_BYTES"):
        get_spark()


@pytest.mark.parametrize(
    "stmt, expected",
    [
        ("UPDATE rc_t SET A = 10", [(10, "x")]),
        ("UPDATE rc_t SET rc_t.b = 'q'", [(1, "q")]),
        ("UPDATE rc_t SET nosuch = 5", "nosuch"),
        ("INSERT INTO rc_t (A, b) VALUES (2, 'y')", [(1, "x"), (2, "y")]),
        (
            "MERGE INTO rc_t t USING (SELECT 2 AS k) s ON t.a = s.k "
            "WHEN NOT MATCHED THEN INSERT (A, b) VALUES (s.k, 'm')",
            [(1, "x"), (2, "m")],
        ),
        (
            "MERGE INTO rc_t t USING (SELECT 1 AS k) s ON t.a = s.k "
            "WHEN MATCHED THEN UPDATE SET t.B = 'u'",
            [(1, "u")],
        ),
        (
            "MERGE INTO rc_t t USING (SELECT 1 AS k) s ON t.a = s.k "
            "WHEN MATCHED THEN UPDATE SET s.b = 'u'",
            "s.b",
        ),
    ],
)
def test_dml_target_columns_resolve_or_raise(fresh, stmt, expected):
    # target columns resolve like Spark's default spark.sql.caseSensitive=false
    # (case-insensitive, optional <table or alias>. qualifier) or raise naming
    # the column — never a silent no-op or an all-NULL column
    fresh.sql("CREATE TABLE rc_t (a INT, b VARCHAR)")
    fresh.sql("INSERT INTO rc_t VALUES (1, 'x')")
    if isinstance(expected, str):
        with pytest.raises(ValueError, match=expected):
            fresh.sql(stmt)
        expected = [(1, "x")]
    else:
        fresh.sql(stmt)
    assert sorted(tuple(r) for r in fresh.sql("SELECT a, b FROM rc_t").collect()) == expected


def test_quoted_literals_survive_session_rewrites(fresh):
    # the default-schema, time-travel and read_* rewrites leave string
    # literals alone
    fresh.sql("CREATE TABLE v (a INT)")
    fresh.sql("INSERT INTO v VALUES (1)")
    row = fresh.sql("SELECT 'public.v' AS lit, 'v VERSION AS OF 1' AS tt FROM public.v").collect()[0]
    assert (row.lit, row.tt) == ("public.v", "v VERSION AS OF 1")
    p = os.path.join(tempfile.mkdtemp(), "p.csv")
    with open(p, "w") as fh:
        fh.write("a\n1\n")
    text = f"see read_csv('{p}')"
    assert fresh.sql(f'SELECT "{text}" AS s').collect()[0].s == text


def test_dml_on_keyword_and_spaced_column_names(fresh):
    # every write quotes the target's column names in the SQL text it builds,
    # a trailing line comment does not swallow the text around it, and a
    # quoted name in a column list may hold a comma or a close paren
    fresh.sql(
        "CREATE TABLE qi AS SELECT 1 AS `order`, 'x' AS `group`, 10 AS `a b`, "
        "20 AS `a,b`, 30 AS `a)b`"
    )
    fresh.sql("UPDATE qi SET order = `order` + `a b`, group = 'y' WHERE `a b` = 10 -- note")
    fresh.sql("INSERT INTO qi (order, group, `a)b`) VALUES (2, 'z', 6)")
    fresh.sql("INSERT INTO qi (`a,b`, group, order) VALUES (8, 'w', 4)")
    fresh.sql("DELETE FROM qi WHERE `group` = 'z' AND `a b` IS NULL -- note")
    fresh.sql(
        "MERGE INTO qi t USING (SELECT 11 AS `order`, 'm' AS `group`, 5 AS `a b`, "
        "21 AS `a,b`, 31 AS `a)b` UNION ALL SELECT 3, 'n', 7, 22, 32 "
        "UNION ALL SELECT 5, 'p', 1, 23, 33) s ON t.`order` = s.`order` "
        "WHEN MATCHED THEN UPDATE SET group = s.`group`, `a,b` = s.`a)b` "
        "WHEN NOT MATCHED AND s.`a b` > 6 THEN INSERT (order, group, `a)b`) "
        "VALUES (s.`a b`, s.`group`, s.`a,b`) "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    rows = fresh.sql(
        "SELECT `order` AS o, `group` AS g, `a b` AS ab, `a,b` AS c, `a)b` AS p FROM qi ORDER BY o"
    ).collect()
    assert [tuple(r) for r in rows] == [
        (4, "w", None, 8, None),
        (5, "p", 1, 23, 33),
        (7, "n", None, None, 22),
        (11, "m", 10, 31, 30),
    ]


def test_sql_text_renderers(spark):
    from pyspark.sql import functions as F

    from qurious_spark.session import _cast, _ident, _literal

    # identifiers: always backtick-quoted, a backtick doubled
    assert _ident("a b") == "`a b`" and _ident("x`y") == "`x``y`"
    names = ["order", "a b", "x`y", "c.d"]
    assert spark.range(1).selectExpr(*[f"1 AS {_ident(n)}" for n in names]).columns == names
    # types: a CAST to the field's type gives exactly that type
    schema = spark.createDataFrame(
        [],
        "a DECIMAL(10,2), b TIMESTAMP, c DATE, d ARRAY<BIGINT>, e MAP<STRING, DOUBLE>, "
        "f STRUCT<x: INT, y: STRING>, g SMALLINT, h BINARY",
    ).schema
    cast = spark.range(1).selectExpr(*[f"{_cast('NULL', f)} AS {f.name}" for f in schema])
    assert [f.dataType for f in cast.schema] == [f.dataType for f in schema]
    # column defaults: the literal has the value and type F.lit gives
    values = [None, True, False, 0, -7, 3000000000, 1.5, -0.25, 1e20, 0.1,
              float("inf"), float("-inf"), float("nan"), "it's", "C:\\temp", "", "a\nb", "\\'"]
    text = spark.range(1).selectExpr(*[f"{_literal(v)} AS c{i}" for i, v in enumerate(values)])
    lit = spark.range(1).select(*[F.lit(v).alias(f"c{i}") for i, v in enumerate(values)])
    assert [f.dataType for f in text.schema] == [f.dataType for f in lit.schema]
    got, want = text.collect()[0], lit.collect()[0]
    for v, g, w in zip(values, got, want):
        assert w == v and g == v if v == v else math.isnan(w) and math.isnan(g)


def test_partitions_stay_bounded_over_inserts(fresh, spark):
    """Each INSERT unions its source's partitions into the table, and the
    every-16 checkpoint keeps what it is given: the table is coalesced to
    one partition per core at every write."""
    fresh.sql("CREATE TABLE t_parts (x BIGINT, y VARCHAR)")
    expected = []
    for i in range(20):
        rows = [(3 * i + j, f"r{i}") for j in range(3)]
        fresh.sql("INSERT INTO t_parts VALUES " + ", ".join(f"({x}, '{y}')" for x, y in rows))
        expected += rows
    table = fresh.sql("SELECT x, y FROM t_parts")
    assert table.rdd.getNumPartitions() <= spark.sparkContext.defaultParallelism
    assert sorted(map(tuple, table.collect())) == sorted(expected)


# -- the count a DML statement returns --------------------------------- #
# Only a check that must fail at the statement starts a Spark job; the
# one-row ``count`` result is a lazy plan over the statement's source.


def test_insert_self_select_count_is_pre_insert_rows(fresh):
    """The count's plan is bound when the statement runs: re-registering
    the table's view, later writes and the every-16 checkpoint do not
    change it."""
    from qurious_spark.session import CHECKPOINT_EVERY

    fresh.sql("CREATE TABLE t_self (a BIGINT)")
    fresh.sql("INSERT INTO t_self VALUES (1), (2), (3)")
    res = fresh.sql("INSERT INTO t_self SELECT a + 10 FROM t_self")
    for i in range(CHECKPOINT_EVERY):
        fresh.sql(f"INSERT INTO t_self VALUES ({100 + i})")
    # a checkpoint fell between the statement and the collect
    assert 2 < CHECKPOINT_EVERY <= fresh.tables["t_self"].version
    assert res.collect()[0]["count"] == 3
    assert fresh.sql("SELECT count(*) AS c FROM t_self").collect()[0].c == 6 + CHECKPOINT_EVERY


def test_merge_count_is_source_rows_after_later_writes(fresh):
    fresh.sql("CREATE TABLE mc_tgt (k BIGINT, v BIGINT)")
    fresh.sql("INSERT INTO mc_tgt VALUES (1, 10), (2, 20)")
    res = fresh.sql(
        "MERGE INTO mc_tgt t USING (SELECT * FROM VALUES (1, 11), (3, 30), (4, 40) AS s(k, v)) s "
        "ON t.k = s.k WHEN MATCHED THEN UPDATE SET v = s.v "
        "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)"
    )
    fresh.sql("DELETE FROM mc_tgt")
    fresh.sql("INSERT INTO mc_tgt VALUES (5, 50)")
    assert res.collect()[0]["count"] == 3


def test_dml_statements_start_no_job(fresh, spark, tmp_path):
    src = tmp_path / "rows.tbl"
    src.write_text("1|a\n2|b\n")
    fresh.sql("CREATE TABLE t_jobs (k INT, s VARCHAR)")
    fresh.sql("CREATE TABLE t_jobs_src (k INT, s VARCHAR)")
    for stmt in (
        "INSERT INTO t_jobs VALUES (1, 'x'), (2, 'y')",
        "INSERT INTO t_jobs SELECT k + 10, s FROM t_jobs",
        "UPDATE t_jobs SET s = 'z' WHERE k > 10",
        "DELETE FROM t_jobs WHERE k = 1",
        f"COPY t_jobs_src FROM '{src}' (DELIMITER '|')",
    ):
        with job_ids(spark, "dml-jobs:" + stmt.split()[0]) as ids:
            fresh.sql(stmt)
        assert ids == [], stmt


def test_merge_materializes_its_one_join(fresh, spark, monkeypatch):
    """A MERGE's jobs are the materialization of its one join and the
    cardinality check over it. The table it leaves is a flat scan, so the
    writes up to the next every-16 checkpoint start no job."""
    import qurious_spark.session as S
    from qurious_spark.session import CHECKPOINT_EVERY

    DataFrame = type(spark.range(1))  # the classic subclass defines count
    fresh.sql("CREATE TABLE mj_tgt (k BIGINT, v BIGINT)")
    fresh.sql("INSERT INTO mj_tgt VALUES (1, 10), (2, 20)")
    materialized, counted = [], []
    checkpoint, count = S._checkpoint, DataFrame.count
    monkeypatch.setattr(S, "_checkpoint", lambda df, eager: materialized.append(df) or checkpoint(df, eager))
    monkeypatch.setattr(DataFrame, "count", lambda df: counted.append(df) or count(df))
    with job_ids(spark, "dml-jobs:merge") as merge_ids:
        fresh.sql(
            "MERGE INTO mj_tgt t USING (SELECT * FROM VALUES (1, 11), (3, 30) AS s(k, v)) s "
            "ON t.k = s.k WHEN MATCHED THEN UPDATE SET v = s.v "
            "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)"
        )
    monkeypatch.undo()
    assert len(materialized) == len(counted) == 1  # one checkpoint, one check
    with job_ids(spark, "dml-jobs:merge-materialize") as materialize_ids:
        checkpoint(materialized[0].select("*"), True)  # a new plan: no stage reuse
    with job_ids(spark, "dml-jobs:merge-check") as check_ids:
        counted[0].count()
    assert len(merge_ids) == len(materialize_ids) + len(check_ids)
    assert "Join" not in fresh.tables["mj_tgt"].df._jdf.queryExecution().optimizedPlan().toString()

    expected = {1: 11, 2: 20, 3: 30}
    for i in range(CHECKPOINT_EVERY - 1):
        x = 2 * i
        with job_ids(spark, f"dml-jobs:after-merge-{i}") as ids:
            if i % 2:
                fresh.sql(f"UPDATE mj_tgt SET v = v + 1 WHERE k < {x}")
                expected = {k: v + (k < x) for k, v in expected.items()}
            else:
                fresh.sql(f"INSERT INTO mj_tgt VALUES ({x + 100}, {x})")
                expected[x + 100] = x
        assert ids == [], i
    with job_ids(spark, "dml-jobs:after-merge-checkpoint") as ids:
        fresh.sql("DELETE FROM mj_tgt WHERE k = 3")
    assert ids  # the 16th write since the MERGE checkpoints
    del expected[3]
    assert dict(map(tuple, fresh.sql("SELECT k, v FROM mj_tgt").collect())) == expected


def test_merge_null_join_keys(fresh):
    """A NULL key matches nothing: the source row takes the NOT MATCHED
    arm, and the target row is kept as it is."""
    fresh.sql("CREATE TABLE mn_tgt (k BIGINT, v VARCHAR)")
    fresh.sql("INSERT INTO mn_tgt VALUES (1, 'a'), (NULL, 'n')")
    fresh.sql(
        "MERGE INTO mn_tgt t USING (SELECT * FROM VALUES (1, 'x'), (CAST(NULL AS BIGINT), 'y') AS s(k, v)) s "
        "ON t.k = s.k WHEN MATCHED THEN UPDATE SET v = s.v WHEN NOT MATCHED THEN INSERT *"
    )
    rows = fresh.sql("SELECT k, v FROM mn_tgt").collect()
    assert sorted(map(tuple, rows), key=repr) == sorted([(1, "x"), (None, "n"), (None, "y")], key=repr)


def test_merge_without_not_matched_inserts_nothing(fresh):
    fresh.sql("CREATE TABLE mm_tgt (k BIGINT, v BIGINT)")
    fresh.sql("INSERT INTO mm_tgt VALUES (1, 10), (2, 20), (3, 30)")
    res = fresh.sql(
        "MERGE INTO mm_tgt t USING (SELECT * FROM VALUES (1, 11), (2, 0), (9, 90) AS s(k, v)) s "
        "ON t.k = s.k WHEN MATCHED AND s.v = 0 THEN DELETE WHEN MATCHED THEN UPDATE SET v = s.v"
    )
    assert res.collect()[0]["count"] == 3
    rows = fresh.sql("SELECT k, v FROM mm_tgt").collect()
    assert sorted(map(tuple, rows)) == [(1, 11), (3, 30)]


def test_merge_non_equi_condition(fresh):
    fresh.sql("CREATE TABLE mr_tgt (k BIGINT, v VARCHAR)")
    fresh.sql("INSERT INTO mr_tgt VALUES (1, 'o'), (5, 'o'), (9, 'o')")
    fresh.sql(
        "MERGE INTO mr_tgt t "
        "USING (SELECT * FROM VALUES (0, 2, 'a'), (4, 6, 'b'), (20, 30, 'z') AS s(lo, hi, tag)) s "
        "ON t.k BETWEEN s.lo AND s.hi "
        "WHEN MATCHED THEN UPDATE SET v = s.tag "
        "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.lo, s.tag)"
    )
    rows = fresh.sql("SELECT k, v FROM mr_tgt").collect()
    assert sorted(map(tuple, rows)) == [(1, "a"), (5, "b"), (9, "o"), (20, "z")]


def test_merge_arm_failing_at_run_time_fails_the_statement(fresh, spark):
    """The MERGE materializes its result, so a SET that overflows under
    ANSI raises at the statement and the table keeps its version and rows."""
    if spark.conf.get("spark.sql.ansi.enabled") != "true":
        pytest.skip("overflow raises only under ANSI")
    fresh.sql("CREATE TABLE mo_tgt (k BIGINT, v BIGINT)")
    fresh.sql("INSERT INTO mo_tgt VALUES (1, 9223372036854775807), (2, 0)")
    with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW"):
        fresh.sql(
            "MERGE INTO mo_tgt t USING (SELECT 1 AS k) s ON t.k = s.k "
            "WHEN MATCHED THEN UPDATE SET v = t.v + 1"
        )
    assert fresh.tables["mo_tgt"].version == 1
    rows = fresh.sql("SELECT k, v FROM mo_tgt").collect()
    assert sorted(map(tuple, rows)) == [(1, 9223372036854775807), (2, 0)]


@pytest.mark.parametrize("column", ["__tid", "__m", "__w", "__keep"])
def test_merge_rejects_helper_column_names(fresh, column):
    fresh.sql("CREATE TABLE mh_tgt (k BIGINT)")
    with pytest.raises(ValueError, match="may not contain"):
        fresh.sql(f"MERGE INTO mh_tgt t USING (SELECT 1 AS k, 2 AS {column}) s ON t.k = s.k "
                  "WHEN NOT MATCHED THEN INSERT (k) VALUES (s.k)")


@pytest.mark.parametrize(
    "stmt",
    [
        "INSERT INTO rf_t SELECT k + 10, v FROM rf_t WHERE 1 / (k - k) > 0",
        "INSERT INTO rf_t SELECT k + 10, v FROM rf_t WHERE CAST(v AS INT) > 0",
        "MERGE INTO rf_t t USING (SELECT k, v FROM rf_t WHERE k % (k - k) = 0) s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET v = 'm'",
    ],
    ids=["insert_divide_by_zero", "insert_bad_cast", "merge_remainder_by_zero"],
)
def test_source_failing_at_run_time_fails_the_statement(fresh, stmt):
    """Under ANSI these sources raise only when run: the statement counts
    them before it writes, so it raises and the table stays readable."""
    fresh.sql("CREATE TABLE rf_t (k BIGINT, v VARCHAR)")
    fresh.sql("INSERT INTO rf_t VALUES (1, 'a')")
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO|CAST_INVALID_INPUT|REMAINDER_BY_ZERO"):
        fresh.sql(stmt)
    assert fresh.tables["rf_t"].version == 1
    assert [tuple(r) for r in fresh.sql("SELECT k, v FROM rf_t").collect()] == [(1, "a")]


def test_failed_checkpoint_leaves_the_table(fresh):
    """An UPDATE whose SET overflows stays lazy until the every-16
    checkpoint runs it; that write raises and the table keeps its version."""
    from qurious_spark.session import CHECKPOINT_EVERY

    fresh.sql("CREATE TABLE cf_t (k BIGINT)")
    for i in range(CHECKPOINT_EVERY - 1):
        fresh.sql(f"INSERT INTO cf_t VALUES ({i + 1})")
    with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW"):
        fresh.sql("UPDATE cf_t SET k = k + 9223372036854775807")
    assert fresh.tables["cf_t"].version == CHECKPOINT_EVERY - 1
    total = CHECKPOINT_EVERY * (CHECKPOINT_EVERY - 1) // 2
    assert fresh.sql("SELECT sum(k) AS s FROM cf_t").collect()[0].s == total


def test_every_dml_kind_returns_one_bigint_count(fresh, tmp_path):
    src = tmp_path / "rows.csv"
    src.write_text("7,g\n")
    statements = [
        ("CREATE TABLE k_t (k BIGINT, v VARCHAR)", 0),
        ("CREATE TABLE IF NOT EXISTS k_t (k BIGINT)", 0),
        ("CREATE TABLE k_ctas AS SELECT 1 AS k", 0),
        ("INSERT INTO k_t VALUES (1, 'a'), (2, 'b')", 2),
        ("INSERT INTO k_t (k) SELECT k + 2 FROM k_t", 2),
        ("UPDATE k_t SET v = 'u' WHERE k = 1", 0),
        ("DELETE FROM k_t WHERE k = 2", 0),
        (
            "MERGE INTO k_t t USING (SELECT 1 AS k) s ON t.k = s.k "
            "WHEN MATCHED THEN UPDATE SET v = 'm'",
            1,
        ),
        (f"COPY k_t FROM '{src}'", 1),
        (f"COPY k_t TO '{tmp_path / 'out'}' (FORMAT PARQUET)", 4),
        ("DROP TABLE k_ctas", 0),
    ]
    for stmt, n in statements:
        res = fresh.sql(stmt)
        assert res.dtypes == [("count", "bigint")], stmt
        assert [tuple(r) for r in res.collect()] == [(n,)], stmt
