"""Plan-shape assertions: the Spark analogue of the reference's optimizer
golden-plan tests (SURVEY.md §4.1). Keeps pushdown / pruning / join strategy
honest as the engine evolves."""

import pytest

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def registry():
    import qurious_spark.queries as q

    q.load_all()
    return q


def test_q1_scan_pruned_and_filter_pushed(spark, registry):
    from qurious_spark.plans import pushed_filters, scan_columns

    df = registry.REGISTRY["tpch_q1"](spark, SF)
    cols = scan_columns(df)[0]
    # only the 7 needed columns are read (lineitem has 11)
    assert set(cols) == {
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_tax",
        "l_returnflag",
        "l_linestatus",
        "l_shipdate",
    }
    assert any("l_shipdate" in f for f in pushed_filters(df))


def test_q5_broadcasts_dims_no_cartesian(spark, registry):
    from qurious_spark.plans import explain_summary

    df = registry.REGISTRY["tpch_q5"](spark, SF)
    s = explain_summary(df)
    assert s["cartesian"] == 0
    # 5 joins total; at this scale every one should be a broadcast hash join
    assert s["broadcast_joins"] == 5
    assert s["sort_merge_joins"] == 0


def test_region_filter_reaches_scan(spark, registry):
    from qurious_spark.plans import pushed_filters

    df = registry.REGISTRY["tpch_q5"](spark, SF)
    assert any("ASIA" in f for f in pushed_filters(df))


def test_topn_fused(spark, registry):
    from qurious_spark.plans import explain_summary

    df = registry.REGISTRY["topn_orders"](spark, SF)
    # orderBy+limit must fuse into TakeOrderedAndProject (the reference
    # hand-fuses the same way, planner/mod.rs:69-83)
    assert explain_summary(df)["top_n"] == 1


def test_agg_is_partial_then_final(spark, registry):
    df = registry.REGISTRY["tpch_q1"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "partial_sum" in plan  # map-side combine before the shuffle


def test_exists_becomes_semi_join(spark, registry):
    df = registry.REGISTRY["exists_subquery"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan


def test_q21_single_pass_over_lineitem(spark, registry):
    """The r12 q21 rewrite makes one lineitem pass STRUCTURAL: every
    intermediate has exactly one consumer, so the plan must scan lineitem
    (and orders) exactly once — the original EXISTS/NOT-EXISTS SQL scanned
    lineitem three times — and needs no sort-merge self-join."""
    from qurious_spark.plans.inspect import _executed_plan, plan_facts

    df = registry.REGISTRY["tpch_q21"](spark, SF)
    plan = _executed_plan(df)
    assert plan.count("lineitem.parquet") == 1
    assert plan.count("orders.parquet") == 1
    facts = plan_facts(plan)
    assert facts["sort_merge_joins"] == 0
    assert facts["cartesian"] == 0


def test_q15_aggregates_lineitem_once(spark, registry):
    """q15's MAX is a window over its one per-supplier aggregate, so the
    plan scans lineitem once; a MAX that joins back plans a second copy
    (the join-inferred isnotnull(l_suppkey) keeps the exchanges apart)."""
    from qurious_spark.plans.inspect import _executed_plan

    df = registry.REGISTRY["tpch_q15"](spark, SF)
    assert _executed_plan(df).count("lineitem.parquet") == 1


def test_metadata_agg_prunes_blob_column(spark):
    from qurious_spark.operators.multimodal import media_stats, synthetic_media

    df = media_stats(synthetic_media(spark, n=4))
    plan = df._jdf.queryExecution().executedPlan().toString()
    # blob only appears via length(); ensure no full-width scan of meta fields
    assert "format" not in plan or "meta.format" not in plan


def test_global_window_count_distinguishes_partitioned_shapes():
    """Plan-text shapes observed from Spark 4: global-with-order,
    partitioned-no-order, partitioned-with-order, bare global."""
    from qurious_spark.plans.inspect import global_window_count

    glob = (
        "+- Window [row_number() windowspecdefinition(id#0L ASC NULLS FIRST, "
        "specifiedwindowframe(RowFrame, unboundedpreceding$(), currentrow$())) "
        "AS r#2], [id#0L ASC NULLS FIRST]"
    )
    part_no_order = (
        "+- Window [count(1) windowspecdefinition(doc_id#0L, "
        "specifiedwindowframe(RowFrame, unboundedpreceding$(), "
        "unboundedfollowing$())) AS __n#12L], [doc_id#0L]"
    )
    part_ordered = (
        "+- Window [min(__hv#9L) windowspecdefinition(doc_id#0L, __pos#7 ASC "
        "NULLS FIRST, specifiedwindowframe(RowFrame, currentrow$(), 3)) AS "
        "__wm#10L], [doc_id#0L], [__pos#7 ASC NULLS FIRST]"
    )
    bare_global = "+- Window [sum(x#1L) windowspecdefinition(...) AS s#3L]"
    assert global_window_count(glob) == 1
    assert global_window_count(part_no_order) == 0
    assert global_window_count(part_ordered) == 0
    assert global_window_count(bare_global) == 1
    assert global_window_count("\n".join([glob, part_ordered, bare_global])) == 2


def test_normalized_plan_ignores_ids_and_lambda_names(spark):
    """A cosine built from Python-lambda Columns and the one written as SQL
    text differ only in exprIds and lambda-variable names, so they normalize
    to one string; a changed operator (``>= 0`` for ``> 0``) still shows."""
    import operator

    from pyspark.sql import functions as F

    from qurious_spark.functions import vector as V
    from qurious_spark.plans.inspect import normalized_plan

    df = spark.range(4).selectExpr(
        "array(CAST(id AS DOUBLE), 2.0D) AS a", "array(3.0D, CAST(-id AS DOUBLE)) AS b"
    )

    def norm(c):
        return F.sqrt(F.aggregate(c, F.lit(0.0), lambda acc, v: acc + v * v))

    def column_cosine(compare):
        a, b = F.col("a"), F.col("b")
        dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)
        denom = norm(a) * norm(b)
        return df.select(F.when(compare(denom, 0), dot / denom).otherwise(F.lit(0.0)).alias("c"))

    text = df.select(F.expr(V.cosine_sql("a", "b")).alias("c"))
    column = column_cosine(operator.gt)
    raw = [d._jdf.queryExecution().optimizedPlan().toString() for d in (text, column)]
    assert raw[0] != raw[1]
    assert normalized_plan(column) == normalized_plan(text)
    assert normalized_plan(column_cosine(operator.ge)) != normalized_plan(text)
