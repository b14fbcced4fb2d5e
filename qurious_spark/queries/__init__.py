"""Query registry: every operator the engine claims, as a (spark, oracle) pair.

Each entry is a callable ``(spark, sf_dir) -> DataFrame`` plus (where
SQL-expressible) an equivalent DuckDB oracle SQL string. The driver runs both
at sf0.01 and hash-compares; ``tools/check_correctness.py`` is the local
replica of that gate.

Conventions (driver contract):
- every computed column is aliased identically on both sides;
- double-typed aggregates are wrapped in ROUND(.., 4) on BOTH sides so
  partitioned float summation noise can't flip the hash;
- EXTRACT-style results are cast to BIGINT on both sides (Spark returns int,
  DuckDB bigint);
- integer SUMs (plain, DISTINCT, or SUM over CASE) are cast to BIGINT on both
  sides — DuckDB widens integer SUM to HUGEINT (int128) while Spark stays
  BIGINT, and the driver's value-hash is representation-sensitive.
- money/decimal SUM columns round in DECIMAL space before the double cast:
  ``CAST(ROUND(SUM(<decimal>), n) AS DOUBLE)``, never ``ROUND(CAST(SUM(..)
  AS DOUBLE), n)`` — an exact scale-4 decimal sum ends on a .xx5 half-point
  ~1/100 groups, where the engines round a DOUBLE apart (sf1 tpch_q7 find).
  ``ROUND(decimal, n)`` is half-away-from-zero in BOTH engines; a
  ``CAST(dec AS DECIMAL(38,n))`` downscale is NOT portable (DuckDB
  truncates it) — the DECIMAL(38,4) cast convention below is safe only for
  quotients, which DuckDB types as DOUBLE.
- per-ROW fractional ROUND(x, n) on doubles is a half-point hazard: Spark
  rounds the double's shortest decimal string (BigDecimal.valueOf), DuckDB
  rounds the binary value, so a quotient near a half-point in digit n+1
  can differ by 1 ulp of digit n (bit tpch_q2 at sf0.1). When a per-row
  value can land near half-points, round via an integer scale instead:
  ROUND(x * 10^n) / 10^n. Aggregates over many rows are far less exposed.
- DuckDB ``date_trunc('month'/'year', ts)`` returns DATE where Spark returns
  TIMESTAMP — CAST both sides to DATE (round-4 datetime-fuzzer find).
- NO ARRAY-TYPED OUTPUT COLUMNS: the driver canonicalizer sorts result
  frames with pandas ``sort_values``/hashing, which crashes on list cells
  (r4 ``TypeError: unhashable type: 'list'`` on multimodal_image_features).
  Serialize arrays to a deterministic string on BOTH sides — Spark
  ``array_join(transform(a, x -> CAST(.. AS STRING)), ',')`` ≙ DuckDB
  ``array_to_string(list_transform(a, x -> CAST(.. AS VARCHAR)), ',')`` —
  or unpivot to one row per element. Float elements go through an integer
  micro-scale (``CAST(ROUND(x * 1e6) AS BIGINT)``) first.
- NO DECIMAL(20,0)/u64-range OUTPUT COLUMNS: the driver value-hash is
  representation-sensitive for 20-digit decimals (source_uint_parquet was
  hash-red r1-r4 with rows+schema green). Surface them as the digit string
  (``CAST(dec AS STRING/VARCHAR)``) or as hi/lo bigints.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

REGISTRY: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}

_registered_views: dict[int, str] = {}


def ensure_views(spark: SparkSession, sf_dir: str) -> None:
    """Register the testdata tables as temp views once per (session, sf_dir).

    The cache is validated against the live catalog (sentinel: ``lineitem``)
    because other components may legitimately clear the temp-view namespace
    in the shared JVM — the slt runner drops all temp views before each file
    to honor the reference's clean-catalog SHOW TABLES semantics
    (testing/slt.py run_slt_file)."""
    key = id(spark)
    if _registered_views.get(key) == sf_dir and spark.catalog.tableExists("lineitem"):
        return
    from qurious_spark.sources.readers import load_tables

    load_tables(spark, sf_dir)
    _registered_views[key] = sf_dir


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Testdata table as a DataFrame, via the cached temp-view registry.

    r12 optimization (guide §1.2 step 2, driver-side work): building a fresh
    ``read_parquet`` per call re-read the parquet footer (pyarrow) and re-ran
    file listing/schema resolution on the driver — ~50-150 ms per call, paid
    once per table per query per bench pass. ``ensure_views`` already holds
    the exact same scan (same reader, same nanos conversion) registered once
    per (session, sf_dir); resolving the view is a catalog lookup. Falls back
    to a direct read for tables outside the standard testdata set."""
    ensure_views(spark, sf_dir)
    try:
        return spark.table(name)
    except Exception:
        from qurious_spark.sources.readers import read_parquet

        return read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))


def register(name: str, fn: Callable[[SparkSession, str], DataFrame], oracle: str | None):
    if name in REGISTRY:
        raise ValueError(f"duplicate query name: {name}")
    REGISTRY[name] = fn
    if oracle is not None:
        ORACLES[name] = oracle


def sql_query(name: str, spark_sql: str, duck_sql: str | None = None) -> None:
    """Register a query whose Spark side is plain SQL over the testdata views.

    When ``duck_sql`` is None the same text is used for the DuckDB oracle
    (ANSI-compatible queries).
    """

    def fn(spark: SparkSession, sf_dir: str, _sql=spark_sql) -> DataFrame:
        ensure_views(spark, sf_dir)
        return spark.sql(_sql)

    register(name, fn, duck_sql if duck_sql is not None else spark_sql)


# --------------------------------------------------------------------------- #
# Single-partition final sort.
#
# A global ORDER BY without LIMIT plans Exchange(rangepartitioning), which
# costs two extra jobs per execution: the RangePartitioner's sampling pass
# plus the sort-shuffle stage. When the sorted frame is a handful of
# aggregate rows that fixed cost dwarfs the sort itself, so these queries
# sort as ``/*+ COALESCE(1) */ ... SORT BY`` instead: identical rows, order
# and schema, one sort task. Against plain ORDER BY on a 4-vCPU host
# (``local[3]``, sf0.1, 9 alternating pairs, medians): tpch_q1 0.344 vs
# 0.413 s, q5 0.823 vs 0.919 s, q7 0.587 vs 0.703 s, q11 0.400 vs 0.490 s,
# q13 0.284 vs 0.298 s. The coalesce also collapses the stage under the
# sort to one task, so it is applied only where the sorted output is
# bounded (a group-by over a small domain or a threshold-filtered few
# percent of one), never to top-n (LIMIT already plans
# TakeOrderedAndProject, no sampling job).
# --------------------------------------------------------------------------- #

# name -> (inner_sql, pin_order_by): every registered final-sort query, with
# the pieces needed to reconstruct the original one-statement form for the
# bit-equality pins (tests/test_final_sort.py).
FINAL_SORT_FORMS: dict[str, tuple[str, str]] = {}


def final_sort_small(df: DataFrame, order_by: str) -> DataFrame:
    """Apply the query's final ORDER BY as a single-partition sort.

    ``order_by`` is the ORDER BY clause as SQL text over ``df``'s columns.
    Rows, order and schema equal the plain ORDER BY form (pinned per
    query)."""
    return df.sparkSession.sql(
        f"SELECT /*+ COALESCE(1) */ * FROM {{df}} SORT BY {order_by}", df=df
    )


def sql_query_final_sort(
    name: str,
    inner_sql: str,
    order_by: str,
    duck_sql: str | None = None,
    pin_order_by: str | None = None,
) -> None:
    """Register a SQL query whose final ORDER BY goes through
    ``final_sort_small``. The DuckDB oracle (and the bit-equality pin) keep
    the original single-statement text ``inner_sql + ORDER BY``;
    ``pin_order_by`` preserves the original clause when it spells columns
    with table qualifiers the post-select frame no longer has."""
    full = f"{inner_sql}\n    ORDER BY {pin_order_by or order_by}"

    def fn(spark: SparkSession, sf_dir: str, _sql=inner_sql, _ob=order_by) -> DataFrame:
        ensure_views(spark, sf_dir)
        return final_sort_small(spark.sql(_sql), _ob)

    register(name, fn, duck_sql if duck_sql is not None else full)
    FINAL_SORT_FORMS[name] = (inner_sql, pin_order_by or order_by)


def df_query(name: str, oracle: str | None):
    """Decorator for DataFrame-API query functions."""

    def deco(fn):
        register(name, fn, oracle)
        return fn

    return deco


def load_all() -> None:
    """Import every query module (idempotent)."""
    import qurious_spark.queries.relational  # noqa: F401
    import qurious_spark.queries.scalar  # noqa: F401
    import qurious_spark.queries.suites  # noqa: F401
    import qurious_spark.queries.sources  # noqa: F401
    import qurious_spark.queries.tpch  # noqa: F401
    import qurious_spark.queries.partsupp  # noqa: F401
    import qurious_spark.queries.text  # noqa: F401
    import qurious_spark.queries.dedup  # noqa: F401
    import qurious_spark.queries.vector  # noqa: F401
    import qurious_spark.queries.events  # noqa: F401
    import qurious_spark.queries.session_dml  # noqa: F401
    import qurious_spark.queries.multimodal  # noqa: F401
    import qurious_spark.queries.sketches  # noqa: F401
    import qurious_spark.queries.sampling  # noqa: F401
    import qurious_spark.queries.pipeline  # noqa: F401


# The driver hash-checks a bounded prefix (~50 entries) of ``queries()``.
# Since round 4 this prefix ROTATES each round: first it grew the set of
# entries that have EVER had a green driver row (complete since r8 — every
# registry entry has a hard-signal green), and since r10 it cycles the
# STALEST cohort back through so no entry's newest driver green ages out. Everything outside the prefix keeps
# registration order and stays covered every round by the local oracle gate
# (tools/check_correctness.py) + pytest.
DRIVER_PRIORITY: tuple[str, ...] = (
    # Round-13 FRESHNESS rotation (same policy as r10-r12, pre-verified
    # 50/50 through the local gate at sf0.01): the two standing anchors
    # (tpch_q1 flagship, dml_roundtrip for SURVEY §2.6), ALL 43 entries
    # whose latest driver green is r9 (the stalest cohort after the r12
    # window landed), and the 5 first-in-registry r10 greens to fill the
    # 50 slots. After this window lands, no entry's latest driver green is
    # older than r10. Rotated out (all r12-green, untouched): the r12
    # window except the anchors.
    "tpch_q1",
    "dml_roundtrip",
    # — 43 r9 greens (the stalest cohort), registry order —
    "limit_offset",
    "topn_orders",
    "distinct_pairs",
    "select_no_from",
    "values_inline",
    "subquery_alias",
    "cross_join",
    "join_inner",
    "join_left_outer",
    "join_non_equi",
    "comma_join_elimination",
    "in_list",
    "not_in_with_null",
    "between_pred",
    "like_patterns",
    "case_searched",
    "cast_expr",
    "interval_arith",
    "extract_parts",
    "date_trunc_agg",
    "agg_no_grouping",
    "agg_stats",
    "group_by_expr",
    "cube_agg",
    "grouping_sets",
    "pivot_case",
    "unpivot_stack",
    "scalar_subquery",
    "correlated_scalar_subquery",
    "exists_subquery",
    "in_subquery",
    "union_all",
    "intersect_keys",
    "window_running_sum",
    "window_qualify",
    "source_ndjson_roundtrip",
    "text_lang_id",
    "dedup_ngram_jaccard",
    "embedding_cosine_pairs",
    "embedding_dup_clusters",
    "events_asof_join",
    "events_stream_tumbling",
    "pipeline_mix_corpora",
    # — 5 first-in-registry r10 greens (fill) —
    "join_right_outer",
    "join_left_semi",
    "join_left_anti",
    "wildcard_qualified",
    "ilike_pattern",
)


def ordered_registry() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """REGISTRY with DRIVER_PRIORITY entries first, the rest in
    registration order."""
    load_all()
    rest = [n for n in REGISTRY if n not in set(DRIVER_PRIORITY)]
    return {n: REGISTRY[n] for n in (*DRIVER_PRIORITY, *rest)}
