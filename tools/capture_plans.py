"""Dump .explain('formatted') for registry queries to plans/<tag>/<name>_<suffix>.txt.

Evidence artifact for optimization rounds (the judge checks plan claims
against these files).

Usage: python tools/capture_plans.py --names q1,q2 --suffix before [--tag r12]

With ``--normalized`` each file holds ``plans.inspect.normalized_plan``
instead: the optimized logical plan with exprIds, lambda-variable names and
plan ids replaced by placeholders. Capture the same names from two checkouts
of the code and ``diff -r`` the two ``plans/<tag>`` directories: no output
means the plans are equal.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--names", required=True)
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
    root = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", args.tag)
    os.makedirs(root, exist_ok=True)
    for name in args.names.split(","):
        df = q.REGISTRY[name](spark, args.sf)
        if args.normalized:
            plan = normalized_plan(df)
        else:
            plan = spark._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
        out = os.path.join(root, f"{name}_{args.suffix}.txt")
        with open(out, "w") as fh:
            fh.write(plan)
        print(f"wrote {out}")


if __name__ == "__main__":
    main()
