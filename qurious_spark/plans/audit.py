"""Plan audit: explain-lint every registry query for scale anti-patterns.

The reference has no optimizer introspection; in a Spark engine the physical
plan IS the scale story, so we lint it mechanically.  For each
``queries()`` entry the initial physical plan (pre-AQE) is checked for:

- **cartesian** products and broadcast-nested-loop joins anywhere a query is
  not explicitly expected to need one (non-equi joins, explicit CROSS JOIN);
- **python_eval** stages (ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas)
  outside the operators that are deliberately Python-backed (multimodal
  decode, MLlib minhash) — everything else must stay JVM-side;
- **no_codegen**: plans with zero WholeStageCodegen spans (interpreted
  execution end to end);
- **global_window**: an unpartitioned Window node (child distribution
  SinglePartition — the round-2 tpch_q11 scale-killer) outside the
  bounded-by-construction allowlist;
- **driver_hash_hazard**: array/map-typed or decimal(20,0) output columns,
  which the round driver's result canonicalizer cannot hash stably
  (see the queries/__init__.py driver-contract docstring);
- informational: shuffle count, scan count, per-scan column width (pruning).

Run: ``python -m qurious_spark.plans.audit [--sf DIR] [--only a,b]``;
``tests/test_plan_audit.py`` enforces zero hard violations on every query.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from qurious_spark.plans.inspect import _executed_plan, plan_facts, scan_columns_from

# Queries allowed to plan a cartesian / broadcast-nested-loop join: explicit
# cross joins and non-equi-only join conditions (Spark's only options).
ALLOW_NON_EQUI = {
    "cross_join",
    "join_non_equi",
    # all-pairs similarity is a deliberate cross join at bounded n —
    # cosine_pairs raises above COSINE_PAIRS_MAX_ROWS (100k) so the O(N^2)
    # plan cannot be reached at corpus scale without an explicit opt-in
    "embedding_cosine_pairs",
    # fed by the same guarded all-pairs emitter, plus the bounded-oracle
    # probe scoring (corpus x broadcast 50-row probe set — O(n), map-side)
    "embedding_dup_clusters",
    "ann_topk_bruteforce",  # query-point x corpus scoring
    "ann_ivf_topk",  # recall invariant embeds a brute-force exact reference
    "ann_pq_topk",  # same: exact top-10 reference ranking inside the entry
    "dedup_minhash_ml",  # MLlib approxSimilarityJoin internals
    # 1-row x 1-row: the invariant entry crossJoins the merged-HLL estimate
    # with the exact global distinct (both single-row aggregates)
    "sketch_hll_rollup",
    # INTENDED, not a leftover cartesian: q11's global threshold is applied
    # as crossJoin(broadcast(<1-row re-aggregated total>)) — the build side
    # is exactly one row, so the BNLJ is O(n). This replaced the
    # unpartitioned-window plan that funneled every part through a single
    # partition (the round-2 scale-killer); do NOT "fix" it back into a
    # window. See queries/tpch.py tpch_q11 docstring.
    "tpch_q11",
    # Same 1-row broadcast-scalar shape as tpch_q11: the P05/P95 bounds
    # aggregate to exactly one row that joins back as a broadcast filter.
    "text_length_filter",
    # Nearest-centroid assignment crossJoins every vector against the
    # broadcast k-row centroid table (k≈16) — O(n·k), the standard k-means
    # scoring shape; the within-cluster pair join is a plain equi-join.
    "embedding_semdedup",
    # The derived-partsupp CTE's `% (SELECT count(*) FROM supplier)` scalar
    # subquery plans as a 1-row broadcast BNLJ at the 10x data shape (at
    # sf0.001 it stays a subquery expression) — same benign O(n)
    # broadcast-scalar class as tpch_q11; build side is a 1-row aggregate.
    "tpch_q2_partsupp",
    "tpch_q11_partsupp",
    # per-side bucket fractions divide by a 1-row broadcast total
    # (crossJoin(broadcast(count)) — the tpch_q11 broadcast-scalar shape)
    "pipeline_psi_drift",
    # r12: the corpus-size factor of the smoothed idf joins in as a 1-row
    # broadcast (crossJoin(broadcast(count)) — the tpch_q11 broadcast-scalar
    # shape), replacing a driver-blocking docs.count() at plan-build time.
    "text_tfidf_top_terms",
}

# Queries allowed to plan an UNPARTITIONED Window (child distribution =
# SinglePartition, every row through one task). Each site is bounded by
# construction — the window runs over a frame already reduced to a small,
# data-independent row count — and carries a matching comment in the source.
# Anything else planning a global window is the round-2 tpch_q11
# scale-killer shape and fails the audit.
ALLOW_GLOBAL_WINDOW = {
    # two-phase prefix sum: the global cumulative sum runs over the 64
    # per-bucket TOTALS, not the corpus (operators/packing.py
    # global_running_sum)
    "pipeline_pack_bins",
    # k-means seeding: bucket numbers over the limit(k) seed rows, k<=16
    # (operators/clustering.py seed_centroids)
    "embedding_semdedup",
    # IVF coarse-quantizer training starts from the same k-means seeding
    # (operators/clustering.py seed_centroids, via kmeans_centroids)
    "ann_ivf_topk",
    # windowed demo over a predicate-bounded slice: the entry's
    # WHERE o_orderkey < 400 (<=400 rows at any sf; queries/relational.py
    # window_ntile_percent)
    "window_ntile_percent",
    # the MAX over the per-supplier revenue totals (one row per supplier,
    # never lineitem rows), so lineitem is aggregated once (queries/tpch.py
    # tpch_q15)
    "tpch_q15",
}

# Queries whose Python stages are the point (stubbed decode, MLlib UDFs).
ALLOW_PYTHON = {
    "multimodal_image_features",
    "multimodal_audio_features",  # real RIFF/WAVE parse — mapInPandas by design
    "multimodal_frame_sample",
    "dedup_minhash_ml",
    "udf_vectorized",  # the pandas_udf surface itself — Arrow-batched by design
    "heavy_hitters_events",  # Misra-Gries candidate pass is mapInPandas by design
    "heavy_hitters_ngrams",  # same Misra-Gries mapInPandas candidate pass
    "udaf_grouped_agg",  # the grouped-agg pandas UDF surface itself
}


@dataclass
class Finding:
    query: str
    kind: str  # cartesian | bnlj | python_eval | no_codegen
    detail: str


@dataclass
class AuditReport:
    findings: list[Finding] = field(default_factory=list)
    info: dict[str, dict] = field(default_factory=dict)

    @property
    def ok(self) -> bool:
        return not self.findings


_PYTHON_NODES = (
    "ArrowEvalPython",
    "BatchEvalPython",
    "MapInPandas",
    "FlatMapGroupsInPandas",
    "MapInArrow",
)

_DECIMAL_DTYPE = re.compile(r"^decimal\((\d+),(\d+)\)$")


def _is_wide_scale0_decimal(dtype: str) -> bool:
    """True for decimal(p,0) with p > 18 — the whole representation-hazard
    class (u64-range values the driver value-hash round-trips unstably),
    not just the decimal(20,0) that parquet uint64 maps to."""
    m = _DECIMAL_DTYPE.match(dtype)
    return bool(m) and int(m.group(1)) > 18 and int(m.group(2)) == 0


def audit_df(name: str, df: DataFrame) -> tuple[list[Finding], dict]:
    # Execute first: under AQE the initial plan carries no codegen markers and
    # join strategies may still change; the audit reads the FINAL plan (the
    # "== Initial Plan ==" tail is cut so nothing is double-counted).
    df.collect()
    plan = _executed_plan(df).split("== Initial Plan ==")[0]
    summary = plan_facts(plan)
    findings: list[Finding] = []
    if summary["cartesian"] and name not in ALLOW_NON_EQUI:
        findings.append(Finding(name, "cartesian", "CartesianProduct in plan"))
    if summary["nested_loop_joins"] and name not in ALLOW_NON_EQUI:
        findings.append(Finding(name, "bnlj", "BroadcastNestedLoopJoin in plan"))
    if summary["global_windows"] and name not in ALLOW_GLOBAL_WINDOW:
        findings.append(
            Finding(
                name,
                "global_window",
                f"{summary['global_windows']} unpartitioned Window node(s) "
                "(SinglePartition child distribution)",
            )
        )
    py_nodes = [n for n in _PYTHON_NODES if n in plan]
    if py_nodes and name not in ALLOW_PYTHON:
        findings.append(Finding(name, "python_eval", ", ".join(py_nodes)))
    # driver-hash hazards: the round driver's pandas canonicalizer crashes
    # on list/map cells and its value-hash is representation-sensitive for
    # beyond-int64 decimals (registry docstring; r4 multimodal_image_features
    # and r1-r4 source_uint_parquet lessons). Any scale-0 decimal wider than
    # 18 digits can exceed the int64 domain the canonicalizer round-trips
    # stably — flag by parsed precision, not the one literal dtype string
    # that happened to bite (round-7 advisor finding).
    hazard_cols = [
        f"{c}:{t}"
        for c, t in df.dtypes
        if t.startswith(("array", "map")) or _is_wide_scale0_decimal(t)
    ]
    if hazard_cols:
        findings.append(Finding(name, "driver_hash_hazard", ", ".join(hazard_cols)))
    if summary["codegen_stages"] == 0 and not py_nodes and summary["scans"]:
        findings.append(Finding(name, "no_codegen", "no WholeStageCodegen span"))
    info = {
        "global_windows": summary["global_windows"],
        "shuffles": summary["shuffles"],
        "scans": summary["scans"],
        "broadcast_joins": summary["broadcast_joins"],
        "sort_merge_joins": summary["sort_merge_joins"],
        "codegen_stages": summary["codegen_stages"],
        "scan_widths": [len(c) for c in scan_columns_from(plan)],
    }
    return findings, info


def audit_registry(
    spark: SparkSession, sf_dir: str, only: set[str] | None = None
) -> AuditReport:
    import qurious_spark.queries as q

    q.load_all()
    report = AuditReport()
    for name, fn in q.REGISTRY.items():
        if only and name not in only:
            continue
        findings, info = audit_df(name, fn(spark, sf_dir))
        report.findings.extend(findings)
        report.info[name] = info
    return report


def main(argv: list[str]) -> int:
    import argparse

    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default=None)
    args = ap.parse_args(argv)

    from qurious_spark.session import get_spark

    report = audit_registry(
        get_spark(), args.sf, set(args.only.split(",")) if args.only else None
    )
    for name, info in report.info.items():
        print(
            f"{name}: shuffles={info['shuffles']} bcast={info['broadcast_joins']} "
            f"smj={info['sort_merge_joins']} codegen={info['codegen_stages']} "
            f"scan_widths={info['scan_widths']}"
        )
    for f in report.findings:
        print(f"VIOLATION {f.query}: {f.kind} ({f.detail})")
    print(f"{len(report.info)} queries audited, {len(report.findings)} violations")
    return 1 if report.findings else 0


if __name__ == "__main__":
    import sys

    sys.exit(main(sys.argv[1:]))
