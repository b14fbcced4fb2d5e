"""Managed-table DML as an oracle-verified query.

The reference's DML surface (INSERT/DELETE executable, UPDATE planned but
rejected — qurious/src/execution/session.rs:128-151) is implemented by our
Session's managed tables (session.py).  This entry proves the full
CREATE AS / INSERT / UPDATE / DELETE round trip against a DuckDB oracle that
expresses the same final state relationally.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from qurious_spark.queries import df_query, table


@df_query(
    "dml_roundtrip",
    """
    SELECT r_regionkey,
           CASE WHEN r_regionkey = 0 THEN 'RENAMED' ELSE r_name END AS r_name
    FROM region
    WHERE r_regionkey <> 2
    UNION ALL
    SELECT 99 AS r_regionkey, 'NEWLAND' AS r_name
    """,
)
def dml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from qurious_spark.session import Session

    s = Session(spark)
    s.register_table("dml_src", table(spark, sf_dir, "region"))
    s.sql("DROP TABLE IF EXISTS dml_t")
    s.sql("CREATE TABLE dml_t AS SELECT r_regionkey, r_name FROM dml_src")
    s.sql("INSERT INTO dml_t VALUES (99, 'NEWLAND')")
    s.sql("UPDATE dml_t SET r_name = 'RENAMED' WHERE r_regionkey = 0")
    s.sql("DELETE FROM dml_t WHERE r_regionkey = 2")
    return s.sql("SELECT r_regionkey, r_name FROM dml_t")


@df_query(
    "merge_upsert",
    """
    WITH src AS (
      SELECT CAST(n_regionkey AS BIGINT) AS k, CAST(COUNT(*) AS DOUBLE) AS amt
      FROM nation WHERE n_nationkey < 13 AND n_regionkey <> 2 GROUP BY n_regionkey
      UNION ALL SELECT 77, 3.0
    ),
    tgt AS (
      SELECT CAST(r_regionkey AS BIGINT) AS k, r_name AS name,
             CAST(0.0 AS DOUBLE) AS total
      FROM region
    )
    SELECT t.k, t.name,
           CASE WHEN s.k IS NOT NULL AND s.amt > 2.5 THEN s.amt ELSE t.total END AS total
    FROM tgt t LEFT JOIN src s ON t.k = s.k
    WHERE s.k IS NULL OR s.amt > 2.5
    UNION ALL
    SELECT s.k, 'new' AS name, s.amt AS total
    FROM src s LEFT JOIN tgt t ON t.k = s.k
    WHERE t.k IS NULL
    """,
)
def merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL:2003 MERGE INTO (update/delete/insert arms, first-match-wins) on a
    managed table; the oracle restates the same final table state as a
    left-join + anti-join union (the session runs one full outer join)."""
    from qurious_spark.queries import ensure_views
    from qurious_spark.session import Session

    ensure_views(spark, sf_dir)
    s = Session(spark)
    s.sql("DROP TABLE IF EXISTS merge_t")
    s.sql(
        """CREATE TABLE merge_t AS
           SELECT CAST(r_regionkey AS BIGINT) AS k, r_name AS name,
                  CAST(0.0 AS DOUBLE) AS total
           FROM region"""
    )
    s.sql(
        """
        MERGE INTO merge_t t
        USING (SELECT CAST(n_regionkey AS BIGINT) AS k,
                      CAST(COUNT(*) AS DOUBLE) AS amt
               FROM nation WHERE n_nationkey < 13 AND n_regionkey <> 2
               GROUP BY n_regionkey
               UNION ALL SELECT CAST(77 AS BIGINT), CAST(3.0 AS DOUBLE)) s
        ON t.k = s.k
        WHEN MATCHED AND s.amt > 2.5 THEN UPDATE SET total = s.amt
        WHEN MATCHED THEN DELETE
        WHEN NOT MATCHED THEN INSERT (k, name, total) VALUES (s.k, 'new', s.amt)
        """
    )
    return s.sql("SELECT k, name, total FROM merge_t")


@df_query(
    "udaf_grouped_agg",
    """
    SELECT l_returnflag,
           ROUND(EXP(AVG(LN(l_quantity))), 4) AS geo_mean_qty
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def udaf_grouped_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-aggregate pandas UDF registered through the Session (the
    UDAF surface the reference lacks — SURVEY.md §2.5); the oracle restates
    the geometric mean relationally as EXP(AVG(LN(x)))."""
    import numpy as np
    import pandas as pd

    from qurious_spark.queries import ensure_views
    from qurious_spark.session import Session

    s = Session(spark)

    def geo_mean(v):
        return float(np.exp(np.log(v.to_numpy(dtype="float64")).mean()))

    geo_mean.__annotations__ = {"v": pd.Series, "return": float}
    s.register_udaf("Q_GEOMEAN", geo_mean, "double")
    ensure_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT l_returnflag,
               ROUND(Q_GEOMEAN(l_quantity), 4) AS geo_mean_qty
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag
        """
    )


@df_query(
    "udf_vectorized",
    """
    SELECT l_orderkey, l_linenumber,
           ROUND(l_quantity * 2 + 1, 4) AS boosted
    FROM lineitem
    WHERE l_quantity > 45
    """,
)
def udf_vectorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched pandas_udf registered by name through the Session —
    the engine analogue of the reference's vectorized UDF trait
    (qurious/src/functions/mod.rs:10-21); the oracle replicates the
    arithmetic in plain SQL."""
    import pandas as pd

    from qurious_spark.session import Session

    s = Session(spark)

    def boost(v):
        return v * 2 + 1

    # real type objects: this module's `from __future__ import annotations`
    # would stringify inline hints, which pandas_udf cannot inspect
    boost.__annotations__ = {"v": pd.Series, "return": pd.Series}

    s.register_udf("Q_BOOST", boost, "double")
    from qurious_spark.queries import ensure_views

    ensure_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT l_orderkey, l_linenumber,
               ROUND(Q_BOOST(l_quantity), 4) AS boosted
        FROM lineitem
        WHERE l_quantity > 45
        """
    )


@df_query(
    "catalog_information_schema",
    # Literal oracle: the managed catalog is built inside the query, so its
    # contents are fully determined — two created tables, one dropped.
    """
    SELECT table_name, table_type
    FROM (VALUES ('infs_orders_copy', 'BASE TABLE'),
                 ('infs_region_copy', 'BASE TABLE')) t(table_name, table_type)
    ORDER BY table_name
    """,
)
def catalog_information_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """information_schema.tables as a real queryable relation (reference:
    qurious/src/execution/information_schema.rs:12-46; SHOW TABLES is sugar
    over it, session.rs:78-81). Creates managed tables, drops one, then
    SELECTs from information_schema.tables with a WHERE + ORDER BY — proving
    the relation participates in ordinary query plans, not just SHOW."""
    from qurious_spark.queries import ensure_views
    from qurious_spark.session import Session

    ensure_views(spark, sf_dir)
    s = Session(spark)
    for t in ("infs_region_copy", "infs_orders_copy", "infs_dropped"):
        s.sql(f"DROP TABLE IF EXISTS {t}")
    s.sql("CREATE TABLE infs_region_copy AS SELECT * FROM region")
    s.sql("CREATE TABLE infs_orders_copy AS SELECT o_orderkey FROM orders LIMIT 5")
    s.sql("CREATE TABLE infs_dropped AS SELECT 1 AS x")
    s.sql("DROP TABLE infs_dropped")
    return s.sql(
        """
        SELECT table_name, table_type
        FROM information_schema.tables
        WHERE table_name LIKE 'infs_%'
        ORDER BY table_name
        """
    )


@df_query(
    "dml_update_from",
    # The oracle restates the join-update's final table state as a left
    # join + CASE — the same plan shape the desugared MERGE builds.
    """
    WITH src AS (
      SELECT CAST(n_regionkey AS BIGINT) AS k,
             CAST(SUM(n_nationkey) AS BIGINT) AS add_v
      FROM nation WHERE n_nationkey < 10 GROUP BY n_regionkey
    ),
    tgt AS (
      SELECT CAST(r_regionkey AS BIGINT) AS k, r_name AS name,
             CAST(5 AS BIGINT) AS v
      FROM region
    )
    SELECT t.k, t.name,
           CASE WHEN s.k IS NOT NULL THEN t.v + s.add_v ELSE t.v END AS v
    FROM tgt t LEFT JOIN src s ON t.k = s.k
    """,
)
def dml_update_from(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Postgres/DuckDB-style ``UPDATE ... FROM`` (join-based update),
    desugared by the dialect to a MERGE with no NOT MATCHED arm — one left
    join, materialized by the statement, error on a target row matching
    multiple source rows (the determinism rule DuckDB also enforces; beyond
    the reference, whose UPDATE never runs — session.rs:130-134)."""
    from qurious_spark.queries import ensure_views
    from qurious_spark.session import Session

    ensure_views(spark, sf_dir)
    s = Session(spark)
    s.sql("DROP TABLE IF EXISTS updf_t")
    s.sql(
        """CREATE TABLE updf_t AS
           SELECT CAST(r_regionkey AS BIGINT) AS k, r_name AS name,
                  CAST(5 AS BIGINT) AS v
           FROM region"""
    )
    s.sql(
        """
        UPDATE updf_t SET v = v + u.add_v
        FROM (SELECT CAST(n_regionkey AS BIGINT) AS k,
                     CAST(SUM(n_nationkey) AS BIGINT) AS add_v
              FROM nation WHERE n_nationkey < 10 GROUP BY n_regionkey) u
        WHERE updf_t.k = u.k
        """
    )
    return s.sql("SELECT k, name, v FROM updf_t")


@df_query(
    "dml_scd2_dimension",
    # The oracle restates the SCD2 merge as set algebra over the same
    # derived dim/updates: history passthrough, unchanged current rows,
    # closed versions of changed rows, new open versions. Null-safe change
    # detection (IS NOT DISTINCT FROM) mirrors the operator's <=>.
    """
    WITH dim AS (
        SELECT c_custkey AS k, c_mktsegment AS seg,
               CAST(c_nationkey AS BIGINT) AS nk
        FROM customer
    ),
    upd AS (
        SELECT c_custkey AS k, 'PROMO' AS seg,
               CAST(c_nationkey AS BIGINT) AS nk
        FROM customer WHERE c_custkey % 7 = 0
        UNION ALL
        SELECT c_custkey + 1000000, 'NEWSEG', CAST(0 AS BIGINT)
        FROM customer WHERE c_custkey % 97 = 0
    ),
    changed AS (
        SELECT d.k FROM dim d JOIN upd u ON d.k = u.k
        WHERE NOT (d.seg IS NOT DISTINCT FROM u.seg
                   AND d.nk IS NOT DISTINCT FROM u.nk)
    )
    SELECT d.k, d.seg, d.nk,
           DATE '2020-01-01' AS vfrom, CAST(NULL AS DATE) AS vto,
           TRUE AS is_current
    FROM dim d WHERE d.k NOT IN (SELECT k FROM changed)
    UNION ALL
    SELECT d.k, d.seg, d.nk,
           DATE '2020-01-01', DATE '2024-06-01', FALSE
    FROM dim d WHERE d.k IN (SELECT k FROM changed)
    UNION ALL
    SELECT u.k, u.seg, u.nk,
           DATE '2024-06-01', CAST(NULL AS DATE), TRUE
    FROM upd u
    WHERE u.k IN (SELECT k FROM changed)
       OR u.k NOT IN (SELECT k FROM dim)
    """,
)
def dml_scd2_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 merge (operators/scd.py) on the hard
    signal: customer becomes the open-version dim, a derived update batch
    flips every 7th key's segment to PROMO and introduces new keys; the
    operator closes changed versions and opens new ones in one set-based
    pass. Beyond the reference's flat INSERT/DELETE DML (UPDATE is refused
    upstream, session.rs:130-134) — the warehouse-history surface on top."""
    from pyspark.sql import functions as F

    from qurious_spark.operators.scd import scd2_merge

    cust = table(spark, sf_dir, "customer")
    dim = cust.select(
        F.col("c_custkey").alias("k"),
        F.col("c_mktsegment").alias("seg"),
        F.col("c_nationkey").cast("bigint").alias("nk"),
        F.to_timestamp(F.lit("2020-01-01")).alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    updates = cust.filter(F.col("c_custkey") % 7 == 0).select(
        F.col("c_custkey").alias("k"),
        F.lit("PROMO").alias("seg"),
        F.col("c_nationkey").cast("bigint").alias("nk"),
    ).unionByName(
        cust.filter(F.col("c_custkey") % 97 == 0).select(
            (F.col("c_custkey") + 1000000).alias("k"),
            F.lit("NEWSEG").alias("seg"),
            F.lit(0).cast("bigint").alias("nk"),
        )
    )
    out = scd2_merge(dim, updates, "k", ["seg", "nk"], "2024-06-01")
    return out.select(
        "k", "seg", "nk",
        F.col("valid_from").cast("date").alias("vfrom"),
        F.col("valid_to").cast("date").alias("vto"),
        "is_current",
    )


@df_query(
    "dml_scd2_stream",
    # Set-algebra restatement of one streamed SCD2 batch: every 10th
    # customer gets two in-batch updates (MID @ 2024-01-01, NEW @
    # 2024-02-01); latest-by-event-time wins, the batch's effective
    # timestamp is its max event time, so changed keys close at 2024-02-01.
    """
    WITH dim AS (SELECT c_custkey AS k, c_mktsegment AS seg FROM customer)
    SELECT k, seg, DATE '2020-01-01' AS vfrom, CAST(NULL AS DATE) AS vto,
           TRUE AS is_current
    FROM dim WHERE k % 10 <> 0
    UNION ALL
    SELECT k, seg, DATE '2020-01-01', DATE '2024-02-01', FALSE
    FROM dim WHERE k % 10 = 0
    UNION ALL
    SELECT k, 'NEW', DATE '2024-02-01', CAST(NULL AS DATE), TRUE
    FROM dim WHERE k % 10 = 0
    """,
)
def dml_scd2_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SCD2 (streaming/scd.py scd2_stream) on the hard signal: a
    managed dimension built from customer, an update stream drained with
    availableNow through foreachBatch -> scd2_merge. Within the batch two
    updates per key collapse to the latest by event time; the batch's max
    event time stamps the closed versions. The streaming query itself is
    stateless (state lives in the versioned table), so restarts resume
    from sink offsets — the production shape for dimension maintenance
    off a CDC feed."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    from qurious_spark.queries import ensure_views
    from qurious_spark.session import Session
    from qurious_spark.streaming.scd import scd2_stream

    ensure_views(spark, sf_dir)
    s = Session(spark)
    s.sql("DROP TABLE IF EXISTS scd_sdim")
    s.sql(
        "CREATE TABLE scd_sdim AS "
        "SELECT c_custkey AS k, c_mktsegment AS seg, "
        "TIMESTAMP '2020-01-01' AS valid_from, "
        "CAST(NULL AS TIMESTAMP) AS valid_to, TRUE AS is_current "
        "FROM customer"
    )
    cust = table(spark, sf_dir, "customer")
    hit = cust.filter(F.col("c_custkey") % 10 == 0).select(
        F.col("c_custkey").cast("bigint").alias("k")
    )
    upd = hit.select(
        "k", F.lit("MID").alias("seg"), F.to_timestamp(F.lit("2024-01-01")).alias("ts")
    ).unionByName(
        hit.select(
            "k", F.lit("NEW").alias("seg"), F.to_timestamp(F.lit("2024-02-01")).alias("ts")
        )
    )
    root = tempfile.mkdtemp(prefix="q_scd_stream_")
    upd_dir = os.path.join(root, "upd")
    upd.coalesce(1).write.parquet(upd_dir)
    stream = spark.readStream.schema("k bigint, seg string, ts timestamp").parquet(
        upd_dir
    )
    scd2_stream(
        stream, s, "scd_sdim", "k", ["seg"], "ts", os.path.join(root, "ckpt")
    )
    return s.table("scd_sdim").select(
        "k",
        "seg",
        F.col("valid_from").cast("date").alias("vfrom"),
        F.col("valid_to").cast("date").alias("vto"),
        "is_current",
    )
