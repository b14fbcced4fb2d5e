"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload tpch-sf0.1 --seed 1 --seconds 12 --trace 0

Run from the repository root. Progress and a report go to stderr; the last
line on stdout is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``. Everything the run writes (generated
inputs, oracle cache, Spark scratch, trace spans) goes under
``.bench_build/perfbench`` in the checkout.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _environment(root: str) -> None:
    """Host-honest, checkout-local settings, fixed before the JVM starts:
    one Spark core per CPU this process may use but one, scratch space
    inside the checkout, and the checkout on the workers' import path
    (mapInPandas workers import ``qurious_spark``). The spare CPU is for
    the Python client and the JVM's compiler and GC threads, which would
    otherwise compete with the tasks: pass times spread less from run to
    run with it left free."""
    build = os.path.join(root, ".bench_build", "perfbench")
    tmp = os.path.join(build, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(max(1, len(os.sched_getaffinity(0)) - 1))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(build, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(build, "warehouse")
    os.environ["TMPDIR"] = tmp
    os.environ["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    if root not in sys.path:
        sys.path.insert(0, root)


def _stop_spark() -> None:
    """Stop the session, then the JVM this process launched, and wait."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    _environment(ROOT)
    # the engine under test; without it the benchmark cannot run
    import qurious_spark  # noqa: F401
    import __spark_entry__  # noqa: F401

    from perfbench import runner
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    try:
        res = runner.run(
            args.workload,
            args.seed,
            args.seconds,
            bool(args.trace),
            ROOT,
            process_start=PROCESS_START,
        )
    finally:
        _stop_spark()
    report = res["report"]
    for key, val in report.items():
        print(f"# {key}: {json.dumps(val)}", file=sys.stderr)
    for key, m in res["metrics"].items():
        print(f"# {key} = {m['value']:.6g} {m['unit']}", file=sys.stderr)
    print(
        json.dumps(
            {k: res[k] for k in ("correct", "attempted", "failed", "metrics")}
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
