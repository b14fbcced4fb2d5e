"""Bit-exact pins for the single-partition final sort (queries/__init__.py
final_sort_small).

Every converted query must produce the EXACT same rows, in the EXACT same
order, with the EXACT same schema as the original single-statement ORDER BY
form, while its plan sorts as ``/*+ COALESCE(1) */ ... SORT BY``.
"""

from __future__ import annotations

import struct

import pytest

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    from qurious_spark.session import get_spark

    return get_spark()


def _bits(rows):
    out = []
    for r in rows:
        out.append(
            tuple(
                struct.pack(">d", v) if isinstance(v, float) else v for v in r
            )
        )
    return out


def assert_frames_bit_equal(a, b):
    assert a.schema == b.schema, f"schema drift:\n{a.schema}\n{b.schema}"
    assert _bits(a.collect()) == _bits(b.collect())


def test_sql_final_sort_queries_match_original(spark):
    """Each sql_query_final_sort entry == the original inner+ORDER BY text,
    rows AND order AND schema."""
    import qurious_spark.queries as q

    q.load_all()
    q.ensure_views(spark, SF)
    assert q.FINAL_SORT_FORMS, "no final-sort queries registered"
    for name, (inner, order_by) in q.FINAL_SORT_FORMS.items():
        original = spark.sql(f"{inner}\n    ORDER BY {order_by}")
        assert_frames_bit_equal(original, q.REGISTRY[name](spark, SF))


def test_final_sort_below_gate_plans_no_range_exchange(spark):
    """Every final-sort query plans Coalesce(1) and NO rangepartitioning
    exchange (that exchange plus the RangePartitioner sampling job are
    exactly the two jobs the rewrite removes). tpch_q10 writes the same
    form in its own text: it sorts at most its LIMIT 20 rows (rows pinned
    by tests/test_moneysum.py::test_q10_matches_original)."""
    import qurious_spark.queries as q

    q.load_all()
    q.ensure_views(spark, SF)
    for name in [*q.FINAL_SORT_FORMS, "tpch_q10", "tpch_q11", "tpch_q13", "tpch_q15"]:
        df = q.REGISTRY[name](spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "rangepartitioning" not in plan, f"{name}: range sort survived"
        assert "Coalesce" in plan, f"{name}: coalesced sort missing"


def test_df_final_sort_queries_match_orderby(spark, monkeypatch):
    """The df-form call sites (tpch_q11/q13/q15) must match the same query
    built with a plain ORDER BY in place of final_sort_small."""
    import qurious_spark.queries as q
    import qurious_spark.queries.tpch as tpch

    def order_by_form(df, order_by):
        return df.sparkSession.sql(f"SELECT * FROM {{df}} ORDER BY {order_by}", df=df)

    q.load_all()
    q.ensure_views(spark, SF)
    for name in ("tpch_q11", "tpch_q13", "tpch_q15"):
        small = q.REGISTRY[name](spark, SF)
        with monkeypatch.context() as m:
            m.setattr(tpch, "final_sort_small", order_by_form)
            wide = q.REGISTRY[name](spark, SF)
        plan = wide._jdf.queryExecution().optimizedPlan().toString()
        assert "Coalesce" not in plan, f"{name}: the ORDER BY form is not wide"
        assert_frames_bit_equal(wide, small)


def test_duplicate_final_sort_name_leaves_forms_unchanged():
    """A rejected duplicate registration must not overwrite the pin form of
    the query that owns the name."""
    import qurious_spark.queries as q

    q.load_all()
    before = dict(q.FINAL_SORT_FORMS)
    with pytest.raises(ValueError, match="duplicate query name"):
        q.sql_query_final_sort("tpch_q1", "SELECT 1 AS x", order_by="x")
    assert q.FINAL_SORT_FORMS == before
