"""Bit-exact pins for the r12 money-sum optimization (queries/tpch.py).

The bounded-integer-unit form of SUM(CAST(X AS DECIMAL(p,s))) must produce
the EXACT same values (double bit patterns included) and the exact same
schema as the original decimal-cast form — the driver's value hash is
representation-sensitive. Pinned against the original formulations on real
testdata AND on an adversarial synthetic frame (negatives, half-point money
values, NULLs, empty groups).
"""

from __future__ import annotations

import struct

import pytest

from qurious_spark.queries.tpch import _unit_expr, money_sum_parts, money_sum_recomb

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    from qurious_spark.session import get_spark

    return get_spark()


def _bits(rows):
    out = []
    for r in rows:
        vals = []
        for v in r:
            vals.append(struct.pack(">d", v) if isinstance(v, float) else v)
        out.append(tuple(vals))
    return out


def assert_frames_bit_equal(a, b):
    assert a.schema == b.schema, f"schema drift:\n{a.schema}\n{b.schema}"
    ra, rb = a.collect(), b.collect()
    assert _bits(ra) == _bits(rb)


def test_q1_matches_original_decimal_form(spark):
    import qurious_spark.queries as q

    q.load_all()
    q.ensure_views(spark, SF)
    new_df = q.REGISTRY["tpch_q1"](spark, SF)
    old_df = spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               ROUND(SUM(l_quantity), 4) AS sum_qty,
               CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))), 4) AS DOUBLE) AS sum_base_price,
               CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,4))), 4) AS DOUBLE) AS sum_disc_price,
               CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(24,6))), 4) AS DOUBLE) AS sum_charge,
               CAST(CAST(CAST(SUM(l_quantity) AS DECIMAL(38,2)) / count(*) AS DECIMAL(38,4)) AS DOUBLE) AS avg_qty,
               CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) / count(*) AS DECIMAL(38,4)) AS DOUBLE) AS avg_price,
               CAST(CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) / count(*) AS DECIMAL(38,4)) AS DOUBLE) AS avg_disc,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '2001-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
        """
    )
    assert_frames_bit_equal(old_df, new_df)


def test_q11_matches_original_decimal_form(spark):
    import qurious_spark.queries as q
    from pyspark.sql import functions as F

    q.load_all()
    new_df = q.REGISTRY["tpch_q11"](spark, SF)
    li = q.table(spark, SF, "lineitem")
    pv = (F.col("l_extendedprice") * F.col("l_quantity")).cast("decimal(24,4)")
    grouped = li.groupBy("l_partkey").agg(F.sum(pv).alias("pv_dec"))
    total = grouped.agg(
        F.sum("pv_dec").alias("tot_dec"), F.count(F.lit(1)).alias("n_parts")
    )
    old_df = (
        grouped.crossJoin(F.broadcast(total))
        .filter(
            F.col("pv_dec").cast("double")
            > F.col("tot_dec").cast("double") / F.col("n_parts") * F.lit(1.5)
        )
        .select(
            "l_partkey",
            F.round(F.col("pv_dec"), 2).cast("double").alias("part_value"),
        )
        .orderBy(F.desc("part_value"), F.asc("l_partkey"))
    )
    assert_frames_bit_equal(old_df, new_df)


def test_q21_matches_original(spark):
    """The single-scan q21 rewrite must reproduce the three-scan
    EXISTS/NOT-EXISTS SQL row-for-row (schema included)."""
    import qurious_spark.queries as q

    q.load_all()
    q.ensure_views(spark, SF)
    new_df = q.REGISTRY["tpch_q21"](spark, SF)
    old_df = spark.sql(
        """
        SELECT s.s_name, count(*) AS numwait
        FROM supplier s, lineitem l1, orders o
        WHERE s.s_suppkey = l1.l_suppkey
          AND o.o_orderkey = l1.l_orderkey
          AND o.o_orderstatus = 'F'
          AND l1.l_shipdate > o.o_orderdate + INTERVAL '90' DAY
          AND EXISTS (
              SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
          )
          AND NOT EXISTS (
              SELECT 1 FROM lineitem l3
              WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
                AND l3.l_shipdate > o.o_orderdate + INTERVAL '90' DAY
          )
        GROUP BY s.s_name
        ORDER BY numwait DESC, s.s_name
        LIMIT 100
        """
    )
    assert_frames_bit_equal(old_df, new_df)


def test_q17_matches_original(spark):
    """The registered q17 must reproduce the correlated-subquery SQL
    bit-for-bit."""
    import qurious_spark.queries as q

    q.load_all()
    q.ensure_views(spark, SF)
    new_df = q.REGISTRY["tpch_q17"](spark, SF)
    old_df = spark.sql(
        """
        SELECT ROUND(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0, 4) AS avg_yearly
        FROM lineitem l, part p
        WHERE p.p_partkey = l.l_partkey
          AND p.p_brand = 'Brand#13'
          AND l.l_quantity < (
              SELECT 0.2 * AVG(l2.l_quantity) FROM lineitem l2
              WHERE l2.l_partkey = p.p_partkey
          )
        """
    )
    assert_frames_bit_equal(old_df, new_df)


def test_q18_matches_original(spark):
    """The single-aggregate q18 must reproduce the IN-over-HAVING SQL
    row-for-row (the outer SUM over each orderkey group equals the
    subquery's per-orderkey SUM exactly — integer-valued doubles)."""
    import qurious_spark.queries as q

    q.load_all()
    q.ensure_views(spark, SF)
    new_df = q.REGISTRY["tpch_q18"](spark, SF)
    old_df = spark.sql(
        """
        SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
               ROUND(o.o_totalprice, 2) AS o_totalprice,
               ROUND(SUM(l.l_quantity), 2) AS total_qty
        FROM customer c, orders o, lineitem l
        WHERE o.o_orderkey IN (
                SELECT l_orderkey FROM lineitem
                GROUP BY l_orderkey HAVING SUM(l_quantity) > 250
              )
          AND c.c_custkey = o.o_custkey AND o.o_orderkey = l.l_orderkey
        GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
        ORDER BY o_totalprice DESC, o.o_orderdate, o.o_orderkey
        LIMIT 100
        """
    )
    assert_frames_bit_equal(old_df, new_df)


def test_q15_matches_original(spark):
    """The single-scan q15 must reproduce the twice-inlined CTE SQL
    bit-for-bit (decimal sums are exact, so MAX over the reused aggregate
    equals MAX over the recomputed copy)."""
    import qurious_spark.queries as q

    q.load_all()
    q.ensure_views(spark, SF)
    new_df = q.REGISTRY["tpch_q15"](spark, SF)
    old_df = spark.sql(
        """
        WITH revenue0 AS (
            SELECT l_suppkey AS supplier_no,
                   SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,4))) AS total_revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
              AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
            GROUP BY l_suppkey
        )
        SELECT s.s_suppkey, s.s_name,
               CAST(ROUND(r.total_revenue, 2) AS DOUBLE) AS total_revenue
        FROM supplier s, revenue0 r
        WHERE s.s_suppkey = r.supplier_no
          AND r.total_revenue = (SELECT MAX(total_revenue) FROM revenue0)
        ORDER BY s.s_suppkey
        """
    )
    assert_frames_bit_equal(old_df, new_df)


def test_q2_matches_original(spark):
    """The registered q2 must reproduce the correlated-subquery SQL
    row-for-row (order-insensitive — the query has no ORDER BY)."""
    import qurious_spark.queries as q

    q.load_all()
    q.ensure_views(spark, SF)
    new_df = q.REGISTRY["tpch_q2"](spark, SF)
    old_df = spark.sql(
        """
        SELECT p.p_partkey, p.p_name, s.s_name,
               ROUND(l.l_extendedprice / l.l_quantity * 10000) / 10000 AS unit_cost
        FROM part p, lineitem l, supplier s
        WHERE l.l_partkey = p.p_partkey AND l.l_suppkey = s.s_suppkey
          AND p.p_type = 'PROMO' AND p.p_size < 15
          AND l.l_extendedprice / l.l_quantity = (
              SELECT MIN(l2.l_extendedprice / l2.l_quantity)
              FROM lineitem l2 WHERE l2.l_partkey = p.p_partkey
          )
        """
    )
    assert old_df.schema == new_df.schema, (old_df.schema, new_df.schema)
    assert sorted(_bits(old_df.collect())) == sorted(
        _bits(new_df.collect()), key=None
    )


def test_q10_matches_original(spark):
    """The SQL-text q10 (r12 driver-latency form) must reproduce the df-API
    form it replaced bit-for-bit: same pre-aggregate-below-the-join +
    semi-join-before-top-n shape, to_timestamp literals swapped for
    TIMESTAMP literals (both zone-invariant on the NTZ testdata columns —
    also swept by the non-UTC-TZ oracle gate)."""
    import qurious_spark.queries as q
    from pyspark.sql import functions as F

    q.load_all()
    q.ensure_views(spark, SF)
    new_df = q.REGISTRY["tpch_q10"](spark, SF)
    o = (
        spark.table("orders")
        .where(
            (F.col("o_orderdate") >= F.to_timestamp(F.lit("1997-10-01")))
            & (F.col("o_orderdate") < F.to_timestamp(F.lit("1998-01-01")))
        )
        .select("o_orderkey", "o_custkey")
    )
    li = (
        spark.table("lineitem")
        .where(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    rev = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_custkey")
        .agg(
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(24,4)"
                    )
                ),
                2,
            )
            .cast("double")
            .alias("revenue")
        )
    )
    cust = spark.table("customer")
    cust_valid = cust.join(
        spark.table("nation").select("n_nationkey"),
        cust.c_nationkey == F.col("n_nationkey"),
        "left_semi",
    )
    top = (
        rev.join(
            cust_valid.select("c_custkey"),
            rev.o_custkey == F.col("c_custkey"),
            "left_semi",
        )
        .orderBy(F.col("revenue").desc(), F.col("o_custkey"))
        .limit(20)
    )
    old_df = (
        top.join(
            cust.select("c_custkey", "c_name", "c_acctbal", "c_nationkey"),
            top.o_custkey == F.col("c_custkey"),
        )
        .join(
            spark.table("nation").select("n_nationkey", "n_name"),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
    )
    assert_frames_bit_equal(old_df, new_df)


@pytest.mark.parametrize(
    "sf_dir", ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"]
)
def test_money_inputs_are_exact_s_decimals(spark, sf_dir):
    """r13 (VERDICT r12 task 4): the unit-sum rewrite is exact ONLY while
    every money input is an exact <=s-decimal value (FLOOR(x*10^s + 0.5)
    equals CAST(x AS DECIMAL(p,s)) — the data-domain invariant the module
    header states). Assert it ON the loaded data for every unit expression
    the queries use, so a future testdata change with sub-cent precision
    fails loudly here instead of silently corrupting q1/q11.

    Threshold 1e-3: the double product of three exact 2-decimal factors
    carries |error| < 1e-3 in scaled units (header proof), while a genuine
    extra decimal digit lands at >= 0.1 scaled units.
    """
    import qurious_spark.queries as q

    q.load_all()
    q.ensure_views(spark, sf_dir)
    exprs = {
        # base columns: exact 2-decimals / integers by TESTDATA construction
        "l_extendedprice": 100,
        "l_discount": 100,
        "l_tax": 100,
        "l_quantity": 1,
        # derived products, at the scale each query's unit expression uses
        "l_extendedprice * (1 - l_discount)": 10000,          # q1 dp
        "l_extendedprice * (1 - l_discount) * (1 + l_tax)": 1000000,  # q1 ch
        "l_extendedprice * l_quantity": 10000,                # q11
    }
    checks = []
    for x, scale in exprs.items():
        checks.append(f"MAX(ABS(({x}) * {scale} - ROUND(({x}) * {scale}))) ")
        checks.append(f"MAX(ABS(({x}) * {scale}))")
    row = spark.sql(
        "SELECT "
        + ", ".join(f"{c} AS c{i}" for i, c in enumerate(checks))
        + " FROM lineitem"
    ).collect()[0]
    for i, (x, scale) in enumerate(exprs.items()):
        frac_dist, magnitude = row[2 * i], row[2 * i + 1]
        assert frac_dist < 1e-3, (
            f"{x} at scale {scale}: scaled values are {frac_dist} from the "
            "integer grid — testdata no longer satisfies the <=s-decimal "
            "invariant the q1/q11 unit sums rely on"
        )
        assert magnitude < 2**41, (
            f"{x} at scale {scale}: |units| {magnitude} >= 2^41 — the "
            "bounded-long split's headroom proof no longer holds"
        )


def test_unit_sums_equal_decimal_sums_adversarial(spark):
    """Synthetic frame: negatives, exact .xx5 half-points on the money grid,
    NULLs, single-row groups — the unit form must agree with the decimal
    cast-and-sum for every scale it is used at (2, 4, 6)."""
    rows = [
        ("a", 0.05),
        ("a", -0.05),
        ("a", 104999.91),
        ("a", None),
        ("b", 900.68),
        ("b", -900.68),
        ("c", 0.01),
        ("d", None),  # all-NULL group
        ("e", 123.45),
        ("e", 0.15),
        ("e", -0.15),
        ("e", 99999.99),
    ]
    df = spark.createDataFrame(rows, "g string, x double")
    df.createOrReplaceTempView("moneysum_adv")
    for s, p in ((2, 18), (4, 24), (6, 24)):
        old = spark.sql(
            f"SELECT g, SUM(CAST(x AS DECIMAL({p},{s}))) AS m "
            "FROM moneysum_adv GROUP BY g ORDER BY g"
        )
        new = spark.sql(
            f"SELECT g, {money_sum_recomb('m', s, p)} AS m FROM ("
            f"  SELECT g, {money_sum_parts('m', 'x', s)} "
            "   FROM moneysum_adv GROUP BY g) ORDER BY g"
        )
        assert_frames_bit_equal(old, new)


def test_unit_expr_recovers_exact_products(spark):
    """The FLOOR(X*10^s + 0.5) unit must equal the decimal cast per ROW for
    the product shapes q1/q11 use (2-dec x 2-dec -> 4 dec, x 2-dec -> 6)."""
    rows = [
        (900.68, 0.10, 0.08, 50.0),
        (104999.91, 0.0, 0.0, 1.0),
        (123.45, 0.05, 0.04, 7.0),
        (0.01, 0.1, 0.08, 49.0),
        (55555.55, 0.07, 0.01, 25.0),
    ]
    df = spark.createDataFrame(rows, "e double, d double, t double, q double")
    df.createOrReplaceTempView("moneysum_rows")
    checks = [
        ("e * (1 - d)", 4),
        ("e * (1 - d) * (1 + t)", 6),
        ("e * q", 4),
        ("e", 2),
    ]
    for x, s in checks:
        bad = spark.sql(
            f"SELECT * FROM moneysum_rows "
            f"WHERE CAST({_unit_expr(x, s)} AS DECIMAL(38,{s})) / {10 ** s} "
            f"      <> CAST({x} AS DECIMAL(24,{s}))"
        ).count()
        assert bad == 0, f"unit mismatch for {x} at scale {s}"
