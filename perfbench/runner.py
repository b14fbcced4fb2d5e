"""One benchmark run: set up, warm up, measure passes, check every result.

``run`` leaves the Spark session running so tests can make several runs in
one process; ``perfbench/run.py`` is the command line around it and stops
the JVM at the end.
"""

from __future__ import annotations

import math
import os
import platform
import statistics
import sys
import time
import traceback

from perfbench import datagen, oracle
from perfbench.trace import LAYER_METRICS, Tracer, cached_mb
from perfbench.workloads import WORKLOADS

# Set-ups after the timed passes, in a warm JVM: each stops the
# SparkContext, then times a fresh one, the Session and the workload's
# set-up. setup_s is their median. The cold set-up is only reported: a run
# has one, and its JVM start (most of it) would hide under the bound any
# set-up work a change adds. Set-ups made before the passes still speed up
# with every repeat as the JIT warms.
SETUPS = 3
# Timed passes run until --seconds have passed, and at least this many, so
# the median rejects two slow passes.
MIN_PASSES = 5

# The gated metrics. The median slot latency is printed, not gated: it
# falls on a sub-second operation (a lazy DML write, a short text query)
# whose run-to-run spread exceeds any bound the benchmark may set.
END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "latency_p90_s": "s",
}


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile, ``p`` in (0, 100]: always one of the
    values. Interpolating would land in the gap between two operations of
    very different cost whenever the rank falls on their boundary."""
    v = sorted(values)
    return v[max(0, math.ceil(p / 100 * len(v)) - 1)]


def slot_medians(samples: list[tuple[str, str, float]]) -> dict[str, tuple[str, float]]:
    """Slot -> (op kind, median latency over the timed passes). A slot is
    an operation name and its occurrence within a pass (a DML pass holds
    six UPDATEs). Latency percentiles are taken over these medians: a
    pass mixes operations of very different cost, so percentiles over raw
    samples move with every noisy sample near a rank boundary."""
    slots: dict[str, list[float]] = {}
    kinds: dict[str, str] = {}
    for slot, kind, dt in samples:
        slots.setdefault(slot, []).append(dt)
        kinds[slot] = kind
    return {k: (kinds[k], statistics.median(v)) for k, v in slots.items()}


def _cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def _execute(w, op, spark, session, tracer, op_id):
    """Run one op. Returns (result, seconds); the result is the collected
    (columns, rows), None for a write, or the exception the op raised."""
    t0 = time.perf_counter()
    try:
        if tracer is None:
            df = w.build(op, spark, session)
            rows = df.collect() if df is not None else None
            dt = time.perf_counter() - t0
        else:
            with tracer.operation(op_id, op.name, op.kind, spark) as op_span:
                with tracer.phase_span("build", spark):
                    df = w.build(op, spark, session)
                rows = None
                if df is not None:
                    with tracer.phase_span("execute", spark):
                        rows = df.collect()
            dt = time.perf_counter() - t0
            tracer.finish(op_span, spark, df, None if rows is None else len(rows))
            if op.kind == "write":
                t1 = time.perf_counter()
                tracer.counts["session.lineage_nodes"] += w.lineage_nodes(session)
                tracer.counts["trace.overhead_s"] += time.perf_counter() - t1
    except Exception as e:  # an op that raises is counted as failed; the run goes on
        print(f"# {op.name} raised:\n{traceback.format_exc()}", file=sys.stderr)
        return e, None
    return (None if df is None else (df.columns, rows)), dt


def run(
    name: str,
    seed: int,
    seconds: float,
    trace: bool,
    root: str,
    sf: float | None = None,
    process_start: float | None = None,
) -> dict:
    """Run workload ``name`` and return the result object the command
    prints, plus a ``report`` of everything else it measured."""
    spec = WORKLOADS[name]
    sf = spec.sf if sf is None else sf
    build_dir = os.path.join(root, ".bench_build", "perfbench")
    steal0, total0 = _cpu_times()
    load0 = os.getloadavg()
    t_first = time.perf_counter() if process_start is None else process_start

    data_dir, manifest = datagen.ensure(os.path.join(build_dir, "data"), sf)
    checksum = datagen.input_checksum(manifest)
    w = spec.make(seed, sf, data_dir, os.path.join(build_dir, "oracle"), checksum)

    from qurious_spark.session import Session, get_spark

    spark = get_spark()
    session = Session(spark)
    w.setup(spark, session)
    setup_cold_s = time.perf_counter() - t_first

    cores = len(os.sched_getaffinity(0))
    tracer = Tracer(spark.sparkContext.defaultParallelism) if trace else None
    if tracer is not None:
        tracer.install(spark)
    try:
        done, samples, pass_times, layer_passes, log = [], [], [], [], []
        op_id = 0
        t_loop = None
        warm_left = spec.warmup
        while True:
            ops = w.pass_ops()
            t_pass = time.perf_counter()
            lat, seen = [], {}
            for op in ops:
                op_id += 1
                res, dt = _execute(w, op, spark, session, tracer, op_id)
                done.append((op, res))
                k = seen[op.name] = seen.get(op.name, -1) + 1
                if dt is not None:
                    lat.append((f"{op.name}#{k}", op.kind, dt))
            pass_s = time.perf_counter() - t_pass
            cached = cached_mb(spark)
            layer = tracer.end_pass(spark, pass_s) if tracer is not None else None
            log.append(f"{'warmup' if warm_left else 'pass'} {len(log)}: {pass_s:.3f} s, storage.cached_mb {cached:.1f}")
            print(f"# {name} {log[-1]}", file=sys.stderr)
            if warm_left:
                warm_left -= 1
                t_loop = time.perf_counter()
                continue
            pass_times.append(pass_s)
            samples.extend(lat)
            if layer is not None:
                layer_passes.append(layer)
            if len(pass_times) >= MIN_PASSES and time.perf_counter() - t_loop >= seconds:
                break
    finally:
        if tracer is not None:
            tracer.uninstall()

    setups = []
    for _ in range(0 if trace else SETUPS):
        spark.stop()
        t0 = time.perf_counter()
        spark = get_spark()
        w.setup(spark, Session(spark))
        setups.append(time.perf_counter() - t0)

    results = [
        (op, res if res is None or isinstance(res, BaseException) else oracle.normalize(list(res[0]), res[1]))
        for op, res in done
    ]
    verdicts = w.check(results)
    failures = [(op.name, v) for (op, _), v in zip(done, verdicts) if v is not None]
    for op_name, why in failures[:10]:
        print(f"# FAIL {op_name}: {why}", file=sys.stderr)

    slots = slot_medians(samples)
    slot_lat = [d for _, d in slots.values()]
    metrics: dict[str, dict] = {}
    if trace:
        for key, (unit, _) in LAYER_METRICS.items():
            metrics[key] = {
                "value": statistics.median(p[key] for p in layer_passes),
                "unit": unit,
            }
        spans_path = os.path.join(build_dir, "traces", f"{name}-seed{seed}.json")
        tracer.write(spans_path)
    else:
        values = {
            "setup_s": statistics.median(setups),
            "pass_s": statistics.median(pass_times),
            "latency_p90_s": percentile(slot_lat, 90),
        }
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}
        spans_path = None

    steal1, total1 = _cpu_times()
    conf = spark.conf
    report = {
        "workload": name,
        "seed": seed,
        "sf": sf,
        "input_checksum": checksum,
        "data_build_s": manifest["build_s"],
        "setup_cold_s": setup_cold_s,
        "setups_s": setups,
        "passes": log,
        "samples": len(samples),
        "latency_p50_s": percentile(slot_lat, 50),
        "slots": len(slots),
        "slot_median_s": {k: d for k, (_, d) in sorted(slots.items())},
        "failed_frac": len(failures) / max(1, len(done)),
        "context": {
            "cores": cores,
            "master": spark.sparkContext.master,
            "shuffle_partitions": conf.get("spark.sql.shuffle.partitions"),
            "spark": spark.version,
            "java": spark._jvm.System.getProperty("java.version"),
            "python": platform.python_version(),
            "duckdb": oracle.duckdb.__version__,
            "loadavg_before": load0,
            "loadavg_after": os.getloadavg(),
            "steal_pct": 100.0 * (steal1 - steal0) / max(1, total1 - total0),
        },
    }
    for kind in ("read", "write"):
        ds = [d for k, d in slots.values() if k == kind]
        if ds:
            report[f"{kind}_p50_s"] = percentile(ds, 50)
            report[f"{kind}_p90_s"] = percentile(ds, 90)
            report[f"{kind}_slots"] = len(ds)
    if spans_path:
        report["spans"] = spans_path
        report["spans_count"] = len(tracer.spans)
    return {
        "correct": not failures,
        "attempted": len(done),
        "failed": len(failures),
        "metrics": metrics,
        "report": report,
        "tracer": tracer,
    }
