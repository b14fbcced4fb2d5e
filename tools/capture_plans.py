"""Dump .explain('formatted') for registry queries to plans/<tag>/<name>_<suffix>.txt.

Evidence artifact for optimization rounds: the files under ``plans/`` back
the plan claims that comments cite (``queries/tpch.py`` cites ``plans/r12``
and ``plans/r13``).

Usage: python tools/capture_plans.py --names q1,q2 --suffix before [--tag r12]

``--names all`` captures every registry entry.

With ``--normalized`` each file holds ``plans.inspect.normalized_plan``
instead: the optimized logical plan with exprIds, lambda-variable names and
plan ids replaced by placeholders. These files go to
``.bench_build/plans/<tag>``, so a plan-equality check never writes into
the kept ``plans/`` evidence. Capture the same names from two checkouts of
the code and ``diff -r`` the two ``.bench_build/plans/<tag>`` directories:
no output means the plans are equal. An entry whose build raises gets a
file holding the error, so a build that fails on one side shows in the
diff, and the run exits non-zero after the last entry.
"""

from __future__ import annotations

import argparse
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--names", required=True, help="comma-separated registry names, or 'all'")
    ap.add_argument("--suffix", required=True)
    ap.add_argument("--tag", default="r12")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--normalized", action="store_true")
    args = ap.parse_args()

    # scan split: Spark 128m default (single-row-group files; see bench.py)
    import qurious_spark.queries as q
    from qurious_spark.plans.inspect import normalized_plan
    from qurious_spark.session import get_spark

    q.load_all()
    spark = get_spark()
    root = os.path.join(ROOT, ".bench_build" if args.normalized else "", "plans", args.tag)
    os.makedirs(root, exist_ok=True)
    names = sorted(q.REGISTRY) if args.names == "all" else args.names.split(",")
    unknown = [n for n in names if n not in q.REGISTRY]
    if unknown:
        ap.error(f"not in the registry: {', '.join(unknown)}")
    failed = []
    for name in names:
        try:
            df = q.REGISTRY[name](spark, args.sf)
            if args.normalized:
                plan = normalized_plan(df)
            else:
                plan = spark._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
        except Exception as e:  # noqa: BLE001 - recorded in the file, shown by the diff
            plan = f"ERROR {type(e).__name__}: {e}"
            print(f"{name}: {plan.splitlines()[0]}", file=sys.stderr)
            failed.append(name)
        out = os.path.join(root, f"{name}_{args.suffix}.txt")
        with open(out, "w") as fh:
            fh.write(plan)
        print(f"wrote {out}")
    if failed:
        sys.exit(f"{len(failed)} builds raised: {', '.join(failed)}")


if __name__ == "__main__":
    main()
