"""Plan inspection: Catalyst size estimates and physical-plan facts."""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def plan_bytes(df: DataFrame) -> int:
    """Catalyst's size estimate of ``df``'s optimized plan, in bytes.

    The one probe behind every size gate. Driver-side metadata only: for
    scans it is the file-size total, and no job runs."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def normalized_plan(df: DataFrame) -> str:
    """``df``'s optimized logical plan with the names that change from one
    build to the next replaced by placeholders: every ``#<exprId>``, every
    lambda-variable name and every ``plan_id``. Two builds of the same plan
    give the same string, so this is the plan-equality check between two
    versions of the code."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    plan = re.sub(r"\blambda \w+#\d+", "lambda _", plan)
    return re.sub(r"plan_id=\d+", "plan_id=_", re.sub(r"#\d+", "#_", plan))


def _executed_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# A Window node renders as ``Window [exprs], [partitionSpec], [orderSpec]``,
# dropping empty trailing groups: partitioned-no-order keeps two groups,
# UNPARTITIONED-with-order also keeps two (exprs + orderSpec). The two-group
# cases are told apart by the sort direction tokens only an order spec
# carries. An unpartitioned window's required child distribution is
# SinglePartition — every row funnels through one task.
_WINDOW_LINE = re.compile(r"\bWindow(?:InPandas)?\s+(\[.*)")


def global_window_count(plan: str) -> int:
    """Number of Window nodes with no PARTITION BY (single-partition exec)."""
    n = 0
    for line in plan.splitlines():
        m = _WINDOW_LINE.search(line)
        if not m:
            continue
        groups = m.group(1).split("], [")
        if len(groups) >= 3:
            continue  # exprs, partition, order
        if len(groups) == 2 and not re.search(r" (ASC|DESC)\b", groups[1]):
            continue  # exprs, partition spec (window with no ORDER BY)
        n += 1
    return n


def plan_facts(plan: str) -> dict:
    """One-glance facts from a physical-plan string."""
    return {
        "global_windows": global_window_count(plan),
        "broadcast_joins": plan.count("BroadcastHashJoin"),
        "shuffled_hash_joins": plan.count("ShuffledHashJoin"),
        "sort_merge_joins": plan.count("SortMergeJoin"),
        "nested_loop_joins": plan.count("BroadcastNestedLoopJoin"),
        "cartesian": plan.count("CartesianProduct"),
        "shuffles": plan.count("Exchange hashpartitioning")
        + plan.count("Exchange rangepartitioning"),
        "scans": plan.count("FileScan parquet"),
        "codegen_stages": len(set(re.findall(r"\*\((\d+)\)", plan))),
        "top_n": plan.count("TakeOrderedAndProject"),
    }


def explain_summary(df: DataFrame) -> dict:
    """One-glance plan facts: joins, shuffles, scans, codegen spans."""
    return plan_facts(_executed_plan(df))


def pushed_filters(df: DataFrame) -> list[str]:
    """DataFilters/PushedFilters reaching the parquet scans."""
    plan = _executed_plan(df)
    out: list[str] = []
    for m in re.finditer(r"(?:DataFilters|PushedFilters): \[([^\]]*)\]", plan):
        if m.group(1).strip():
            out.extend(p.strip() for p in m.group(1).split(","))
    return out


def scan_columns(df: DataFrame) -> list[list[str]]:
    """Column list of each parquet scan (column-pruning check)."""
    return scan_columns_from(_executed_plan(df))


def scan_columns_from(plan: str) -> list[list[str]]:
    return [
        [c.split("#")[0] for c in m.group(1).split(",")]
        for m in re.finditer(r"FileScan parquet \[([^\]]*)\]", plan)
    ]


def shuffle_count(df: DataFrame) -> int:
    return explain_summary(df)["shuffles"]


def broadcast_join_count(df: DataFrame) -> int:
    return explain_summary(df)["broadcast_joins"]


def has_cartesian_product(df: DataFrame) -> bool:
    return explain_summary(df)["cartesian"] > 0
