"""Dataset drift detection between pipeline generations.

Two monitoring primitives every recurring ingestion pipeline runs between
the previous snapshot and the new one:

- **schema drift**: columns added / removed / type-changed (pairs with the
  sharded writer's mergeSchema evolution — sources/sharding.py);
- **distribution drift**: Population Stability Index over fixed bucket
  edges — PSI = Σ (p_cur − p_ref) · ln(p_cur / p_ref), the standard model-
  monitoring statistic (rule of thumb: < 0.1 stable, 0.1–0.25 drifting,
  > 0.25 shifted).

Scale shape: schema drift is metadata-only (no jobs); PSI is one
aggregation per side over fixed edges (a groupBy on one `CASE WHEN` text —
map-side combine, shuffle carries one row per bucket), never a sort or
quantile job.
Fixed edges are the deliberate choice: quantile-derived edges would make
the two sides' buckets incomparable across runs.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_SCHEMA_DRIFT = "column string, status string, ref_type string, cur_type string"


def schema_drift(ref: DataFrame, cur: DataFrame) -> DataFrame:
    """Columns added/removed/type_changed between two generations.
    Metadata-only — launches no jobs. Unchanged columns are omitted."""
    rt = dict(ref.dtypes)
    ct = dict(cur.dtypes)
    rows = []
    for c in rt:
        if c not in ct:
            rows.append((c, "removed", rt[c], None))
        elif rt[c] != ct[c]:
            rows.append((c, "type_changed", rt[c], ct[c]))
    for c in ct:
        if c not in rt:
            rows.append((c, "added", None, ct[c]))
    return ref.sparkSession.createDataFrame(rows, _SCHEMA_DRIFT)


def _bucketed_fractions(df: DataFrame, col: str, edges: Sequence[float]) -> DataFrame:
    """(bucket, frac) over fixed edges; bucket 0 = below first edge,
    len(edges) = above last. NULLs are excluded (monitor them with a
    completeness check — operators/quality.py)."""
    c = f"`{col}`"
    arms = "".join(
        f"WHEN {c} < CAST('{float(e)!r}' AS DOUBLE) THEN {i} " for i, e in enumerate(edges)
    )
    bucket = f"CASE {arms}ELSE {len(edges)} END" if edges else "0"
    counted = (
        df.where(f"{c} IS NOT NULL")
        .groupBy(F.expr(f"{bucket} AS bucket"))
        .agg(F.count("*").alias("__c"))
    )
    total = counted.agg(F.sum("__c").alias("__t"))
    return counted.crossJoin(F.broadcast(total)).selectExpr("bucket", "__c / __t AS frac")


def psi(
    ref: DataFrame,
    cur: DataFrame,
    col: str,
    edges: Sequence[float],
    epsilon: float = 1e-6,
) -> DataFrame:
    """Per-bucket PSI contributions plus a TOTAL row.

    Output: (bucket, ref_frac, cur_frac, psi) with bucket −1 carrying the
    total. ``epsilon`` floors empty buckets so the log term stays finite
    (the standard PSI convention). One aggregation per side; the bucket
    join is on ≤ len(edges)+1 rows.
    """
    r = _bucketed_fractions(ref, col, edges).withColumnRenamed("frac", "ref_frac")
    c = _bucketed_fractions(cur, col, edges).withColumnRenamed("frac", "cur_frac")
    per = (
        r.join(c, "bucket", "full")
        .select(
            "bucket",
            F.coalesce("ref_frac", F.lit(0.0)).alias("ref_frac"),
            F.coalesce("cur_frac", F.lit(0.0)).alias("cur_frac"),
        )
        .select(
            "bucket",
            "ref_frac",
            "cur_frac",
            (
                (F.col("cur_frac") - F.col("ref_frac"))
                * F.log(
                    (F.col("cur_frac") + epsilon) / (F.col("ref_frac") + epsilon)
                )
            ).alias("psi"),
        )
    )
    total = per.agg(
        F.lit(-1).alias("bucket"),
        F.sum("ref_frac").alias("ref_frac"),
        F.sum("cur_frac").alias("cur_frac"),
        F.sum("psi").alias("psi"),
    )
    return per.unionByName(total)
