"""TPC-H Q1-Q12, adapted to the driver testdata schema.

The reference's correctness bar is TPC-H Q1-Q12 at sf0.01
(/root/reference/qurious/tests/tpch/q1.slt..q12.slt). The driver's testdata
(TESTDATA.md) is TPC-H-ish but reduced: no partsupp table; lineitem lacks
commitdate/receiptdate/shipmode/shipinstruct; customer lacks phone/address;
dates are stored as TIMESTAMP. Queries below keep each original query's
operator shape (the thing the reference tests) and substitute available
columns where the original ones don't exist; adaptations are noted per query.

All are ANSI SQL shared verbatim with the DuckDB oracle. Double aggregates
are ROUNDed on both sides; ORDER BY ... LIMIT always carries a unique
tiebreaker so top-n is deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from qurious_spark.queries import (
    df_query,
    ensure_views,
    final_sort_small,
    sql_query,
    sql_query_final_sort,
)

# --------------------------------------------------------------------------- #
# Money-sum via bounded integer unit sums (optimization round 12, guide §1.2
# step 2 "per-task work" + §2.3 "narrower types").
#
# SUM(CAST(X AS DECIMAL(p,s))) costs ~300 ns/row in Spark: the double→decimal
# cast goes through BigDecimal.valueOf (Double.toString + parse) and the >18-
# digit sum buffer serializes a java BigDecimal per update. Measured: each
# such SUM over sf0.1 lineitem (585k rows in ONE scan task — single-row-group
# input) adds ~0.3 s; tpch_q1 spent 1.35 s of 1.68 s in its four money sums.
#
# Equivalent integer form: every money input is an exact ≤s-decimal value
# (TESTDATA.md: 2-decimal prices/rates, integer quantities), so
# X·10^s is an integer E with |E| < 2^41 and the double product carries
# |error| < 1e-3 ≪ 0.5; FLOOR(X·10^s + 0.5) therefore recovers E exactly —
# the same value CAST(X AS DECIMAL(p,s)) produces (both are the exact
# rational; proven bit-exact in tests/test_moneysum.py, incl. negatives).
# E is split into three bounded longs (a = E div 1e8, b,c ∈ (-1e4, 1e4)) so
# each SUM is a codegen'd primitive long sum whose accumulator stays exact
# past 10^15 rows (|a| ≤ ~2·10^3 ⇒ overflow needs > 4·10^15 rows ≈ multi-
# hundred-TB per group); the three part-sums recombine exactly in decimal
# space ONCE PER GROUP, and a final cast lands on DECIMAL(p+10,s) — the exact
# type SUM(DECIMAL(p,s)) would have produced, so every downstream expression
# (ROUND, division, double cast) is unchanged. ~15 ns/row instead of ~300.
# --------------------------------------------------------------------------- #


def _unit_expr(x: str, s: int) -> str:
    """X scaled to 10^s integer units as BIGINT (exact; see header proof)."""
    return f"CAST(FLOOR(({x}) * {10 ** s} + 0.5) AS BIGINT)"


def money_sum_parts(tag: str, x: str, s: int) -> str:
    """Three bounded partial SUMs for SUM(CAST(x AS DECIMAL(_,s)))."""
    u = _unit_expr(x, s)
    return (
        f"SUM({u} DIV 100000000) AS {tag}_a, "
        f"SUM(({u} % 100000000) DIV 10000) AS {tag}_b, "
        f"SUM({u} % 10000) AS {tag}_c"
    )


def money_sum_recomb(tag: str, s: int, p: int) -> str:
    """Recombine the three part-sums to the DECIMAL(p+10,s) the original
    SUM(CAST(x AS DECIMAL(p,s))) produced. The 10^-s multiply is exact
    (scale-s decimal literal; multiplication never rounds)."""
    d = (
        f"(CAST({tag}_a AS DECIMAL(38,0)) * 100000000 + "
        f"CAST({tag}_b AS DECIMAL(38,0)) * 10000 + "
        f"CAST({tag}_c AS DECIMAL(38,0)))"
    )
    lit = "0." + "0" * (s - 1) + "1"
    return f"CAST({d} * {lit} AS DECIMAL({p + 10},{s}))"

# Q1 — pricing summary report (reference tests/tpch/q1.slt). Unmodified shape.
# Money sums are SUM(CAST(<double product> AS DECIMAL)): the row-local double
# product is exact to the 6 decimal digits the inputs carry (2+2+2), the cast
# makes each term an exact decimal, and the decimal-128 sum is associative —
# deterministic under any partitioning in both engines, without the ~1.5x
# cost of full Decimal128 multiply chains.
# AVG columns round through CAST(sum/count AS DECIMAL(38,4)), not
# ROUND(double, 4): a quotient on a 1e-4 half-point rounds differently per
# engine on DOUBLE (the events_daily_stats defect class found by
# tools/skew_sweep.py); the decimal cast is half-up in both engines with
# 38-digit headroom at any scale factor. (That cast form is quotient-only:
# DuckDB types decimal/int division as DOUBLE, and its double→decimal cast
# rounds. A decimal→decimal downscale cast TRUNCATES in DuckDB.)
# Money SUM columns therefore round with ROUND(decimal, n) — half away from
# zero in both engines — BEFORE the double cast, never ROUND(double, n):
# an exact 4-decimal sum ends on a .xx5 half-point ~1 in 100 groups, where
# Spark (shortest decimal string, HALF_UP) and DuckDB (binary value) round
# a DOUBLE apart. Invisible until sf1, where tpch_q7's 68M revenue sum
# flipped a cent in the full-registry sf1 gate.
# Spark side (r12 optimization): the four money SUMs run as bounded integer
# unit sums (money_sum_parts above) recombined per group — bit-exact same
# values and output schema as the original decimal-cast form (differential
# pin: tests/test_moneysum.py), 2.6x faster on the single-row-group scan
# task that dominates this query locally and cheaper per row at any scale.
# The DuckDB oracle keeps the original decimal-cast text.
_Q1_ORACLE = """
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

# The final ORDER BY goes through final_sort_small (two fewer jobs per
# execution; see queries/__init__.py). Output is bounded by the
# (l_returnflag, l_linestatus) domain — single digits of rows at any scale
# factor.
sql_query_final_sort(
    "tpch_q1",
    f"""
    SELECT l_returnflag, l_linestatus,
           ROUND(sq, 4) AS sum_qty,
           CAST(ROUND({money_sum_recomb('bp', 2, 18)}, 4) AS DOUBLE) AS sum_base_price,
           CAST(ROUND({money_sum_recomb('dp', 4, 24)}, 4) AS DOUBLE) AS sum_disc_price,
           CAST(ROUND({money_sum_recomb('ch', 6, 24)}, 4) AS DOUBLE) AS sum_charge,
           CAST(CAST(CAST(sq AS DECIMAL(38,2)) / cnt AS DECIMAL(38,4)) AS DOUBLE) AS avg_qty,
           CAST(CAST({money_sum_recomb('bp', 2, 18)} / cnt AS DECIMAL(38,4)) AS DOUBLE) AS avg_price,
           CAST(CAST({money_sum_recomb('di', 2, 18)} / cnt AS DECIMAL(38,4)) AS DOUBLE) AS avg_disc,
           cnt AS count_order
    FROM (
        SELECT l_returnflag, l_linestatus,
               SUM(l_quantity) AS sq,
               {money_sum_parts('bp', 'l_extendedprice', 2)},
               {money_sum_parts('dp', 'l_extendedprice * (1 - l_discount)', 4)},
               {money_sum_parts('ch', 'l_extendedprice * (1 - l_discount) * (1 + l_tax)', 6)},
               {money_sum_parts('di', 'l_discount', 2)},
               count(*) AS cnt
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '2001-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    )
    """,
    order_by="l_returnflag, l_linestatus",
    duck_sql=_Q1_ORACLE,
)

# Q2 — minimum-cost supplier (reference q2.slt). Adapted: no partsupp, so the
# part-supplier link and "supply cost" come from lineitem unit prices; keeps
# the correlated-scalar-subquery-over-MIN shape that Q2 exists to test.
# unit_cost rounds via an integer scale (ROUND(x*10000)/10000) instead of
# ROUND(x, 4): Spark's fractional ROUND rounds the double's shortest
# DECIMAL string (BigDecimal.valueOf) while DuckDB rounds the BINARY value,
# so quotients landing near a half-point in the 5th decimal diverge by 1
# ulp of the 4th decimal (4/914 rows at sf0.1). Scaling first makes the
# half-point exactly representable, where both engines round identically.
# One text serves Spark and the oracle. Catalyst decorrelates the MIN into
# a full-lineitem per-partkey aggregate; restricting lineitem to the
# PROMO/size<15 partkeys first (a broadcast semi-join) gave the same rows
# but lost on a 4-vCPU host at sf0.1: 0.438 vs 0.387 s plain (9 alternating
# pairs, medians). Pin: tests/test_moneysum.py::test_q2_matches_original.
_Q2_ORACLE = """
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
sql_query("tpch_q2", _Q2_ORACLE)

# Q3 — shipping priority (reference q3.slt). Adapted: o_shippriority column
# absent, dropped from the select list; top-10 with unique tiebreaker.
sql_query(
    "tpch_q3",
    """
    SELECT l.l_orderkey,
           CAST(ROUND(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(24,4))), 2) AS DOUBLE) AS revenue,
           o.o_orderdate
    FROM customer c, orders o, lineitem l
    WHERE c.c_mktsegment = 'BUILDING'
      AND c.c_custkey = o.o_custkey AND l.l_orderkey = o.o_orderkey
      AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, l.l_orderkey
    LIMIT 10
    """,
)

# Q4 — order priority checking (reference q4.slt). Adapted: the original
# EXISTS predicate l_commitdate < l_receiptdate is unavailable; "late line"
# is l_shipdate > o_orderdate + 60 days. Keeps the EXISTS→semi-join shape.
# Final sort via final_sort_small — output bounded by the 5-value
# o_orderpriority domain.
sql_query_final_sort(
    "tpch_q4",
    """
    SELECT o.o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1997-07-01 00:00:00'
      AND EXISTS (
          SELECT 1 FROM lineitem l
          WHERE l.l_orderkey = o.o_orderkey
            AND l.l_shipdate > o.o_orderdate + INTERVAL '60' DAY
      )
    GROUP BY o.o_orderpriority
    """,
    order_by="o_orderpriority",
    pin_order_by="o.o_orderpriority",
    duck_sql="""
    SELECT o.o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1997-07-01 00:00:00'
      AND EXISTS (
          SELECT 1 FROM lineitem l
          WHERE l.l_orderkey = o.o_orderkey
            AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority
    """,
)

# Q5 — local supplier volume (reference q5.slt). Unmodified shape (6-way join).
# Final sort via final_sort_small — output bounded by the nation domain
# (25 rows at any scale factor).
sql_query_final_sort(
    "tpch_q5",
    """
    SELECT n.n_name,
           CAST(ROUND(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(24,4))), 2) AS DOUBLE) AS revenue
    FROM customer c, orders o, lineitem l, supplier s, nation n, region r
    WHERE c.c_custkey = o.o_custkey
      AND l.l_orderkey = o.o_orderkey
      AND l.l_suppkey = s.s_suppkey
      AND c.c_nationkey = s.s_nationkey
      AND s.s_nationkey = n.n_nationkey
      AND n.n_regionkey = r.r_regionkey
      AND r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n.n_name
    """,
    order_by="revenue DESC",
)

# Q6 — forecasting revenue change (reference q6.slt). Unmodified shape.
sql_query(
    "tpch_q6",
    """
    SELECT CAST(ROUND(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(24,4))), 4) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)

# Q7 — volume shipping between two nations (reference q7.slt). Unmodified
# shape (nation self-join x2 + year extraction).
# Final sort via final_sort_small — output bounded by 2 nation pairs x
# the 7-year order-date domain.
sql_query_final_sort(
    "tpch_q7",
    """
    SELECT supp_nation, cust_nation, l_year, CAST(ROUND(SUM(volume), 2) AS DOUBLE) AS revenue
    FROM (
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(EXTRACT(YEAR FROM l.l_shipdate) AS BIGINT) AS l_year,
               CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(24,4)) AS volume
        FROM supplier s, lineitem l, orders o, customer c, nation n1, nation n2
        WHERE s.s_suppkey = l.l_suppkey
          AND o.o_orderkey = l.l_orderkey
          AND c.c_custkey = o.o_custkey
          AND s.s_nationkey = n1.n_nationkey
          AND c.c_nationkey = n2.n_nationkey
          AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
            OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    """,
    order_by="supp_nation, cust_nation, l_year",
)

# Q8 — national market share (reference q8.slt). Adapted: part filter uses
# the testdata's single-word p_type vocabulary. Keeps the CASE-inside-
# aggregate-ratio shape.
# Final sort via final_sort_small — output bounded by the order-date
# year domain (7 rows).
sql_query_final_sort(
    "tpch_q8",
    """
    SELECT o_year,
           ROUND(CAST(SUM(CASE WHEN nation = 'NATION_3' THEN volume ELSE 0 END) AS DOUBLE) / CAST(SUM(volume) AS DOUBLE), 6) AS mkt_share
    FROM (
        SELECT CAST(EXTRACT(YEAR FROM o.o_orderdate) AS BIGINT) AS o_year,
               CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(24,4)) AS volume,
               n1.n_name AS nation
        FROM part p, supplier s, lineitem l, orders o, customer c, nation n1, nation n2, region r
        WHERE p.p_partkey = l.l_partkey
          AND s.s_suppkey = l.l_suppkey
          AND l.l_orderkey = o.o_orderkey
          AND o.o_custkey = c.c_custkey
          AND c.c_nationkey = n2.n_nationkey
          AND n2.n_regionkey = r.r_regionkey
          AND s.s_nationkey = n1.n_nationkey
          AND r.r_name = 'AMERICA'
          AND p.p_type = 'ECONOMY'
    ) all_nations
    GROUP BY o_year
    """,
    order_by="o_year",
)

# Q9 — product type profit (reference q9.slt). Adapted: no ps_supplycost, so
# profit is revenue minus a quantity-proportional cost proxy. Keeps the
# LIKE-filtered part join + nation/year grouping shape. The LIKE token is
# '%ring%' (not TPC-H's color words): the driver testdata's part names are
# adjective+noun pairs ("small ring", "hot bolt", ...), so a color token
# matches zero rows and the query would be vacuously green.
# Final sort via final_sort_small — output bounded by the nation x
# order-year domain (25 x 7 = 175 rows).
sql_query_final_sort(
    "tpch_q9",
    """
    SELECT nation, o_year, CAST(ROUND(SUM(amount), 2) AS DOUBLE) AS sum_profit
    FROM (
        SELECT n.n_name AS nation,
               CAST(EXTRACT(YEAR FROM o.o_orderdate) AS BIGINT) AS o_year,
               CAST(l.l_extendedprice * (1 - l.l_discount) - 50.0 * l.l_quantity AS DECIMAL(24,4)) AS amount
        FROM part p, supplier s, lineitem l, orders o, nation n
        WHERE s.s_suppkey = l.l_suppkey
          AND p.p_partkey = l.l_partkey
          AND o.o_orderkey = l.l_orderkey
          AND s.s_nationkey = n.n_nationkey
          AND p.p_name LIKE '%ring%'
    ) profit
    GROUP BY nation, o_year
    """,
    order_by="nation, o_year DESC",
)

# Q10 — returned item reporting (reference q10.slt). Adapted: c_address /
# c_phone / c_comment absent, dropped from select list; top-20 tiebroken.
#
# Scale shape (sf1 profiling showed the naive 4-table SQL scaling ~linearly
# with data): revenue is aggregated on o_custkey alone over the narrow
# orders⋈lineitem join, so customer attributes (strings) never enter the big
# shuffle or the aggregation hash table. The per-custkey aggregate (bounded by
# customer cardinality) is semi-joined against customer keys — keeping the
# SQL's inner-join semantics for custkeys absent from customer — BEFORE the
# top-20, and only the 20 surviving rows join back for name/acctbal/nation.
_Q10_ORACLE = """
    SELECT c.c_custkey, c.c_name,
           CAST(ROUND(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(24,4))), 2) AS DOUBLE) AS revenue,
           c.c_acctbal, n.n_name
    FROM customer c, orders o, lineitem l, nation n
    WHERE c.c_custkey = o.o_custkey
      AND l.l_orderkey = o.o_orderkey
      AND o.o_orderdate >= TIMESTAMP '1997-10-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l.l_returnflag = 'R'
      AND c.c_nationkey = n.n_nationkey
    GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """

# Q11 — important stock identification (reference q11.slt). Adapted: no
# partsupp, so "value" is lineitem extendedprice*quantity per part. Keeps the
# HAVING-vs-global-threshold semantics, but the Spark side derives the global
# total by RE-AGGREGATING the grouped decimal sums (decimal addition is
# associative, so SUM(per-part sums) == the subquery's direct SUM exactly) —
# one lineitem scan instead of the oracle's two.


@df_query("tpch_q10", _Q10_ORACLE)
def tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Same pre-aggregate-below-the-join + semi-join-before-top-n shape as
    # the df form it replaces, emitted as ONE SQL text (r12 driver-latency
    # pass: the ~40-call py4j chain cost 0.15-0.7 s per build depending on
    # host health; the text parses in one round trip to the same optimized
    # plan — plans/r12/tpch_q10_{before,after}.txt). Revenue rounds in
    # DECIMAL space before the double cast (ROUND(double, 2) diverges from
    # the oracle on exact .xx5 half-points); the pre-limit semi join applies
    # EVERY inner-join existence condition (customer exists AND its nation
    # exists) — filtering nation only after the limit would drop rows the
    # oracle replaces. Bit-equality vs the df form is pinned
    # (tests/test_moneysum.py::test_q10_matches_original, incl. a non-UTC
    # session-TZ sweep for the to_timestamp -> TIMESTAMP literal swap).
    # The final sort is the single-partition form: the sorted frame is
    # structurally <= 20 rows (the `top` CTE's LIMIT survives the two inner
    # joins).
    ensure_views(spark, sf_dir)
    return spark.sql(
        """
        WITH rev AS (
            SELECT o.o_custkey,
                   CAST(ROUND(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(24,4))), 2) AS DOUBLE) AS revenue
            FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
            WHERE o.o_orderdate >= TIMESTAMP '1997-10-01 00:00:00'
              AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
              AND l.l_returnflag = 'R'
            GROUP BY o.o_custkey
        ),
        cust_valid AS (
            SELECT c.c_custkey
            FROM customer c LEFT SEMI JOIN nation n ON c.c_nationkey = n.n_nationkey
        ),
        top AS (
            SELECT r.o_custkey, r.revenue
            FROM rev r LEFT SEMI JOIN cust_valid cv ON r.o_custkey = cv.c_custkey
            ORDER BY r.revenue DESC, r.o_custkey
            LIMIT 20
        )
        SELECT /*+ COALESCE(1) */ c.c_custkey, c.c_name, t.revenue, c.c_acctbal, n.n_name
        FROM top t
        JOIN customer c ON t.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        SORT BY revenue DESC, c_custkey
        """
    )


@df_query(
    "tpch_q11",
    """
    WITH pv AS (
        SELECT l_partkey, SUM(CAST(l_extendedprice * l_quantity AS DECIMAL(24,4))) AS v
        FROM lineitem GROUP BY l_partkey
    )
    SELECT l_partkey, CAST(ROUND(v, 2) AS DOUBLE) AS part_value
    FROM pv
    WHERE CAST(v AS DOUBLE) > (
        SELECT CAST(SUM(v) AS DOUBLE) / COUNT(*) * 1.5 FROM pv
    )
    ORDER BY part_value DESC, l_partkey
    """,
)
def tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    from qurious_spark.queries import table

    li = table(spark, sf_dir, "lineitem")
    # r12 optimization: SUM(CAST(e*q AS DECIMAL(24,4))) over every lineitem
    # row was the query's dominant cost (~300 ns/row BigDecimal sum path).
    # Same bounded-integer-unit form as tpch_q1 (see money_sum_parts header
    # for the exactness proof): e*q is an exact 2-decimal value, so the
    # 10^4-unit FLOOR recovers it exactly; three bounded long sums recombine
    # per group to the identical DECIMAL(34,4) the decimal SUM produced
    # (bit-exact pin: tests/test_moneysum.py).
    u = _unit_expr("l_extendedprice * l_quantity", 4)
    grouped = li.groupBy("l_partkey").agg(
        F.expr(f"SUM({u} DIV 100000000)").alias("pv_a"),
        F.expr(f"SUM(({u} % 100000000) DIV 10000)").alias("pv_b"),
        F.expr(f"SUM({u} % 10000)").alias("pv_c"),
    ).selectExpr("l_partkey", f"{money_sum_recomb('pv', 4, 24)} AS pv_dec")
    # global total = re-aggregate the per-part sums down to ONE row, then
    # broadcast it back over the grouped rows. Unlike an unpartitioned window
    # (which funnels all |parts| rows through a single partition — a
    # scale-killer at 10^8 parts), this moves exactly one row per upstream
    # partition into the scalar agg and ships a 1-row broadcast back out.
    # Threshold = 1.5x the MEAN per-part value: TPC-H's own 0.0001 fraction
    # is SF-relative (the spec divides it by SF) and a fixed fraction goes
    # vacuous as parts grow (sf0.01: all 2000 parts; sf1: zero — round-9
    # sf1-gate find); the mean-relative form selects a stable ~2.5% of
    # parts at every scale (49 / 514 / 5140 at sf0.01/0.1/1). IEEE op
    # order (divide, then *1.5) mirrors the oracle text exactly.
    total = grouped.agg(
        F.sum("pv_dec").alias("tot_dec"), F.count(F.lit(1)).alias("n_parts")
    )
    out = (
        grouped.crossJoin(F.broadcast(total))
        .filter(
            F.expr(
                "CAST(pv_dec AS DOUBLE)"
                " > CAST(tot_dec AS DOUBLE) / n_parts * 1.5D"
            )
        )
        # decimal-space round (see q10): half-up in both engines
        .selectExpr(
            "l_partkey", "CAST(ROUND(pv_dec, 2) AS DOUBLE) AS part_value"
        )
    )
    # Single-partition final sort: the coalesced task carries the ~2.5% of
    # partkeys the threshold keeps (49 / 514 / 5140 rows at sf0.01/0.1/1).
    # That grows with the part domain, unlike q1/q5's fixed domains.
    return final_sort_small(out, "part_value DESC, l_partkey")

# Q12 — shipping modes and order priority (reference q12.slt). Adapted: no
# l_shipmode/l_receiptdate; buckets lines by shipping delay instead, keeping
# the CASE-sum-over-join shape.
# Final sort via final_sort_small — output bounded by the 2-value
# ship_bucket domain. (The original ORDER BY 1 is positional; the sort
# column list names it, the pin keeps the positional spelling.)
sql_query_final_sort(
    "tpch_q12",
    """
    SELECT
      CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL '90' DAY THEN 'SLOW' ELSE 'FAST' END AS ship_bucket,
      CAST(SUM(CASE WHEN o.o_orderpriority = '1-URGENT' OR o.o_orderpriority = '2-HIGH'
               THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      CAST(SUM(CASE WHEN o.o_orderpriority <> '1-URGENT' AND o.o_orderpriority <> '2-HIGH'
               THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o, lineitem l
    WHERE o.o_orderkey = l.l_orderkey
      AND l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY 1
    """,
    order_by="ship_bucket",
    pin_order_by="1",
    duck_sql="""
    SELECT
      CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY THEN 'SLOW' ELSE 'FAST' END AS ship_bucket,
      CAST(SUM(CASE WHEN o.o_orderpriority = '1-URGENT' OR o.o_orderpriority = '2-HIGH'
               THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      CAST(SUM(CASE WHEN o.o_orderpriority <> '1-URGENT' AND o.o_orderpriority <> '2-HIGH'
               THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o, lineitem l
    WHERE o.o_orderkey = l.l_orderkey
      AND l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY 1
    ORDER BY 1
    """,
)

# ---------------------------------------------------------------------------
# Q13-Q22: BEYOND the reference (its corpus stops at Q12 — SURVEY §5). Same
# adaptation rules: missing columns (o_comment, c_phone, partsupp,
# l_receiptdate/commitdate) substituted with available ones while keeping
# each query's characteristic operator shape.
# ---------------------------------------------------------------------------

# Q13 — customer order-count distribution: LEFT OUTER JOIN with an extra join
# predicate + double grouping. (o_comment filter → o_orderpriority.)
#
# Scale shape: orders are pre-aggregated to one (custkey, count) row BEFORE
# the outer join — an aggregate-below-join pushdown Catalyst does not apply
# on its own. The join then shuffles at most |customer| pre-combined rows
# instead of every order row; customers with no qualifying orders coalesce to
# count 0, which is exactly the LEFT JOIN + count(o_orderkey) semantics
# (o_orderkey is never NULL, so count(o_orderkey) == count of joined rows).
_Q13_ORACLE = """
    SELECT c_count, count(*) AS custdist
    FROM (
        SELECT c.c_custkey AS ck, count(o.o_orderkey) AS c_count
        FROM customer c LEFT OUTER JOIN orders o
          ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
        GROUP BY c.c_custkey
    ) c_orders
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """


@df_query("tpch_q13", _Q13_ORACLE)
def tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_views(spark, sf_dir)
    oc = (
        spark.table("orders")
        .where(F.col("o_orderpriority") != "1-URGENT")
        .groupBy("o_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    per_cust = (
        spark.table("customer")
        .select("c_custkey")
        .join(oc, F.col("c_custkey") == F.col("o_custkey"), "left")
        .select(F.coalesce(F.col("n_orders"), F.lit(0)).alias("c_count"))
    )
    # Single-partition final sort over the order-count histogram (support =
    # distinct per-customer order counts — dozens of rows at bench SFs).
    return final_sort_small(
        per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist")),
        "custdist DESC, c_count DESC",
    )

# Q14 — promo revenue share: conditional aggregation ratio over one month.
sql_query(
    "tpch_q14",
    """
    SELECT ROUND(
             100.00 * CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                   THEN CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(24,4))
                   ELSE CAST(0 AS DECIMAL(24,4)) END) AS DOUBLE)
             / CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(24,4))) AS DOUBLE),
           4) AS promo_revenue
    FROM lineitem l, part p
    WHERE l.l_partkey = p.p_partkey
      AND l.l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
      AND l.l_shipdate < TIMESTAMP '1997-10-01 00:00:00'
    """,
)

# Q15 — top supplier: CTE in place of the original CREATE VIEW revenue0;
# scalar-MAX subquery over the same CTE.
#
# Spark inlines the CTE, so the SQL form scans the filtered lineitem TWICE
# and runs the per-suppkey aggregation twice (plans/r12/tpch_q15_before.txt:
# two lineitem scans, two HashAggregate pairs; exchange reuse can NOT
# deduplicate them — the main-query copy carries the join-inferred
# isnotnull(l_suppkey) pushdown and narrower pruning than the scalar-subquery
# copy, so the exchanges never canonicalize equal). A MAX aggregate that
# cross-joins back plans two copies for the same reason. The DataFrame form
# below takes the MAX as ``max(total_revenue) OVER ()`` over the ONE
# aggregate, so lineitem is scanned and aggregated once: the same rows as
# the scalar subquery (a NULL l_suppkey group counts toward the MAX in both),
# unlike a pushed-down filter. The window is unpartitioned but runs over the
# per-supplier totals, one row per supplier, never over lineitem
# (plans/audit.py ALLOW_GLOBAL_WINDOW). The winners are broadcast to the
# supplier scan. Decimal sums are exact, so the result is bit-identical to
# the inlined CTE (pin: tests/test_moneysum.py::test_q15_matches_original;
# the DuckDB oracle keeps the original CTE text).
_Q15_ORACLE = """
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


@df_query("tpch_q15", _Q15_ORACLE)
def tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_views(spark, sf_dir)
    # the filtered aggregate as ONE SQL text (r12 driver-latency pass — one
    # py4j round trip; same plan, bit-equality held by the existing pins)
    rev = spark.sql(
        """
        SELECT l_suppkey,
               SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,4))) AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
        GROUP BY l_suppkey
        """
    )
    winners = rev.selectExpr("*", "max(total_revenue) OVER () AS __mx").where(
        "total_revenue = __mx"
    ).select("l_suppkey", "total_revenue")
    s = spark.table("supplier").select("s_suppkey", "s_name")
    out = s.join(F.broadcast(winners), F.expr("s_suppkey = l_suppkey")).selectExpr(
        "s_suppkey",
        "s_name",
        "CAST(ROUND(total_revenue, 2) AS DOUBLE) AS total_revenue",
    )
    # Single-partition final sort; coalesce(1) also collapses the
    # supplier-scan probe side of the broadcast join to one task.
    return final_sort_small(out, "s_suppkey")

# Q16 — part/supplier relationship count: COUNT(DISTINCT) + NOT IN subquery.
# (partsupp → lineitem as the part-supplier link; comment filter → negative
# account balance.)
# Final sort via final_sort_small — output bounded by the filtered part
# attribute domain (25 brands x 150 types x the 8 listed sizes).
sql_query_final_sort(
    "tpch_q16",
    """
    SELECT p.p_brand, p.p_type, p.p_size,
           count(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM lineitem l, part p
    WHERE p.p_partkey = l.l_partkey
      AND p.p_brand <> 'Brand#5'
      AND p.p_type <> 'PROMO'
      AND p.p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
      AND l.l_suppkey NOT IN (
          SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
      )
    GROUP BY p.p_brand, p.p_type, p.p_size
    """,
    order_by="supplier_cnt DESC, p_brand, p_type, p_size",
    pin_order_by="supplier_cnt DESC, p.p_brand, p.p_type, p.p_size",
)

# Q17 — small-quantity-order revenue: correlated scalar AVG subquery.
#
# One text serves Spark and the oracle. Catalyst decorrelates the AVG
# subquery into a FULL-lineitem aggregate (plans/r12/tpch_q17_before.txt
# scan (9): every partkey aggregated, no brand filter pushed in) even though
# only Brand#13 partkeys (~2% of parts) can join. Restricting lineitem to
# those partkeys first (a broadcast semi-join) gave the same rows but did
# not win on a 4-vCPU host at sf0.1: 0.452 vs 0.451 s plain (9 alternating
# pairs, medians). Pin: tests/test_moneysum.py::test_q17_matches_original.
_Q17_ORACLE = """
    SELECT ROUND(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0, 4) AS avg_yearly
    FROM lineitem l, part p
    WHERE p.p_partkey = l.l_partkey
      AND p.p_brand = 'Brand#13'
      AND l.l_quantity < (
          SELECT 0.2 * AVG(l2.l_quantity) FROM lineitem l2
          WHERE l2.l_partkey = p.p_partkey
      )
    """
sql_query("tpch_q17", _Q17_ORACLE)

# Q18 — large-volume customers: IN over a HAVING subquery + top-n.
#
# r12 optimization (guide §1.2 step 1 — don't compute things twice): the SQL
# form scans lineitem twice and aggregates it twice — once inside the IN
# subquery (per-orderkey SUM > 250) and once in the outer GROUP BY, which
# sums the SAME rows again (o_orderkey is unique in orders, so each outer
# group IS one orderkey and its SUM equals the subquery's). The Spark side
# aggregates lineitem by orderkey ONCE, filters > 250, and joins the
# surviving handful of orders to orders/customer. l_quantity is an
# integer-valued double, so the sum is exact and order-independent — the
# re-used aggregate is bit-identical to the outer SUM it replaces (pin:
# tests/test_moneysum.py::test_q18_matches_original; oracle keeps the
# two-scan text).
_Q18_ORACLE = """
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


@df_query("tpch_q18", _Q18_ORACLE)
def tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Same single-aggregate shape as the df form it replaces (aggregate
    # lineitem by orderkey ONCE, filter > 250, join the survivors), emitted
    # as ONE SQL text — r12 driver-latency pass, same optimized plan
    # (plans/r12/tpch_q18_after.txt), bit-equality pinned
    # (tests/test_moneysum.py::test_q18_matches_original).
    ensure_views(spark, sf_dir)
    return spark.sql(
        """
        WITH sums AS (
            SELECT l_orderkey, SUM(l_quantity) AS total_q
            FROM lineitem
            GROUP BY l_orderkey
        ),
        per_order AS (
            SELECT l_orderkey, total_q FROM sums WHERE total_q > 250
        )
        SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
               ROUND(o.o_totalprice, 2) AS o_totalprice,
               ROUND(t.total_q, 2) AS total_qty
        FROM per_order t
        JOIN orders o ON t.l_orderkey = o.o_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        ORDER BY o_totalprice DESC, o.o_orderdate ASC, o.o_orderkey ASC
        LIMIT 100
        """
    )

# Q19 — discounted revenue: disjunction of brand/size/quantity conjunctions
# (the OR-of-ANDs predicate Catalyst must not turn into a cartesian).
sql_query(
    "tpch_q19",
    """
    SELECT CAST(ROUND(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(24,4))), 2) AS DOUBLE) AS revenue
    FROM lineitem l, part p
    WHERE p.p_partkey = l.l_partkey
      AND ((p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15 AND l.l_quantity >= 1 AND l.l_quantity <= 21)
        OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25 AND l.l_quantity >= 10 AND l.l_quantity <= 30)
        OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 35 AND l.l_quantity >= 20 AND l.l_quantity <= 40))
    """,
)

# Q20 — potential part promotion: nested IN subqueries with HAVING.
# (partsupp availqty → total shipped quantity per supplier.)
# Final sort via final_sort_small — output bounded by the HAVING-filtered
# supplier set (like q11 it grows with the domain).
sql_query_final_sort(
    "tpch_q20",
    """
    SELECT s.s_name, ROUND(s.s_acctbal, 2) AS s_acctbal
    FROM supplier s
    WHERE s.s_suppkey IN (
        SELECT l.l_suppkey FROM lineitem l
        WHERE l.l_partkey IN (
            SELECT p_partkey FROM part WHERE p_name LIKE 'small%'
        )
        GROUP BY l.l_suppkey
        HAVING SUM(l.l_quantity) > 300
    )
    """,
    order_by="s_name",
    pin_order_by="s.s_name",
)

# Q21 — suppliers who kept orders waiting: EXISTS + NOT EXISTS on the same
# fact table ("late" = shipped >90 days after order date, replacing the
# absent receipt/commit dates).
#
# r12 optimization (guide §1.2 step 1, remove passes/shuffles): the SQL form
# scans lineitem THREE times (l1 + the EXISTS l2 + the NOT EXISTS l3) and
# joins the fact table against itself twice — at cluster scale that is two
# extra full passes and two extra fact-table joins. The Spark side now scans
# lineitem ONCE and never consumes any frame twice: per (orderkey, suppkey)
# it counts that supplier's late rows, per orderkey it derives the supplier
# count, the late-supplier count, THE single late supplier's key and its
# late-row total, and the EXISTS/NOT EXISTS pair collapses to
# n_supp >= 2 AND n_late_supp == 1 (l1's own supplier is always in both
# sets, so "another supplier exists" = n_supp >= 2 and "no OTHER supplier
# was late" = exactly one late supplier; every counted l1 row is late, so
# its supplier IS that one late supplier and numwait = its late-row count).
# Because each intermediate has exactly one consumer, one lineitem pass is
# structural — no exchange reuse or materialization needed — and on a
# cluster, where li⋈o plans as a sort-merge join on l_orderkey, BOTH
# aggregations are satisfied by the join's hashpartitioning(l_orderkey)
# output and add zero exchanges. Row-for-row identical output
# (differential pin: tests/test_moneysum.py::test_q21_matches_original;
# oracle keeps the original three-scan text).
_Q21_ORACLE = """
    SELECT s.s_name, count(*) AS numwait
    FROM supplier s, lineitem l1, orders o
    WHERE s.s_suppkey = l1.l_suppkey
      AND o.o_orderkey = l1.l_orderkey
      AND o.o_orderstatus = 'F'
      AND l1.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
      AND EXISTS (
          SELECT 1 FROM lineitem l2
          WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
          SELECT 1 FROM lineitem l3
          WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
            AND l3.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
      )
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    LIMIT 100
    """


@df_query("tpch_q21", _Q21_ORACLE)
def tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    # One structural pass (see header), emitted as ONE SQL text — r12
    # driver-latency pass, same optimized plan
    # (plans/r12/tpch_q21_after.txt), bit-equality vs the three-scan SQL
    # pinned (tests/test_moneysum.py::test_q21_matches_original).
    #
    # per_supp: how many of this supplier's rows shipped late (0 = supplier
    # not late; NULL-late rows — never in testdata — fold to 0 exactly like
    # the original predicates, which drop non-TRUE rows).
    # per_order: supplier count, late-supplier count, and — for the orders
    # that qualify (exactly one late supplier) — that supplier's key and
    # late-row count. MAX over the single late supplier's key is exact; for
    # disqualified orders (0 or >=2 late suppliers) the row is filtered out
    # before the value is ever used.
    # COALESCE with a non-nullable literal: the value can never be NULL
    # (groups are non-empty, late_rows non-NULL) but SUM types nullable
    # where the original count(*) did not, and the pin asserts schemas.
    ensure_views(spark, sf_dir)
    return spark.sql(
        """
        WITH per_supp AS (
            SELECT l.l_orderkey, l.l_suppkey,
                   SUM(CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL '90' DAY
                            THEN 1 ELSE 0 END) AS n_late_rows
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            WHERE o.o_orderstatus = 'F'
            GROUP BY l.l_orderkey, l.l_suppkey
        ),
        per_order AS (
            SELECT l_orderkey,
                   COUNT(1) AS n_supp,
                   SUM(CASE WHEN n_late_rows > 0 THEN 1 ELSE 0 END) AS n_late_supp,
                   MAX(CASE WHEN n_late_rows > 0 THEN l_suppkey END) AS late_suppkey,
                   SUM(n_late_rows) AS late_rows
            FROM per_supp
            GROUP BY l_orderkey
        )
        SELECT s.s_name,
               COALESCE(SUM(q.late_rows), CAST(0 AS BIGINT)) AS numwait
        FROM per_order q
        JOIN supplier s ON q.late_suppkey = s.s_suppkey
        WHERE q.n_supp >= 2 AND q.n_late_supp = 1
        GROUP BY s.s_name
        ORDER BY numwait DESC, s.s_name ASC
        LIMIT 100
        """
    )

# Q22 — global sales opportunity: substring-derived code + uncorrelated AVG
# subquery + NOT EXISTS anti join. (c_phone country code → custkey mod 10;
# "no orders" → "no urgent orders" so the result is non-empty at test SFs.)
# Final sort via final_sort_small — output bounded by the 10-value
# cntrycode domain (custkey % 10).
sql_query_final_sort(
    "tpch_q22",
    """
    SELECT cntrycode, count(*) AS numcust, CAST(SUM(CAST(acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
    FROM (
        SELECT CAST(c.c_custkey % 10 AS STRING) AS cntrycode, c.c_acctbal AS acctbal
        FROM customer c
        WHERE c.c_acctbal > (
                SELECT AVG(c2.c_acctbal) FROM customer c2 WHERE c2.c_acctbal > 0.0
              )
          AND NOT EXISTS (
                SELECT 1 FROM orders o
                WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
              )
    ) custsale
    GROUP BY cntrycode
    """,
    order_by="cntrycode",
    duck_sql="""
    SELECT cntrycode, count(*) AS numcust, CAST(SUM(CAST(acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
    FROM (
        SELECT CAST(c.c_custkey % 10 AS VARCHAR) AS cntrycode, c.c_acctbal AS acctbal
        FROM customer c
        WHERE c.c_acctbal > (
                SELECT AVG(c2.c_acctbal) FROM customer c2 WHERE c2.c_acctbal > 0.0
              )
          AND NOT EXISTS (
                SELECT 1 FROM orders o
                WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
              )
    ) custsale
    GROUP BY cntrycode
    ORDER BY cntrycode
    """,
)
