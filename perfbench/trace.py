"""Traced runs: spans around the calls into each layer, and the per-layer
metrics read from them and from Spark's status store.

Only a ``--trace 1`` run installs any of this. It wraps, from outside the
engine:

- the py4j send path (counted, not spanned: one query makes hundreds);
- every public function of ``qurious_spark.dialect`` and
  ``qurious_spark.checkpoint``, wherever a module holds a reference to it;
- ``Session.sql`` and the ``ManagedTable`` mutators.

Each operation gets a span with ``build`` and ``execute`` children (the
registry call or ``Session.sql``, then ``collect``), and each phase runs in
its own Spark job group, so jobs that start inside build (the count in an
INSERT, an eager checkpoint) are attributed to build. Catalyst phase spans
come from the QueryExecution's planning tracker; job and stage spans use the
status store's own timestamps. Spans stay in memory until ``write``.
"""

from __future__ import annotations

import functools
import inspect
import json
import os
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

# Per-layer metrics: unit and which way is better. README.md says which
# end-to-end metric and workload each should move.
LAYER_METRICS: dict[str, tuple[str, str]] = {
    "queries.build_s": ("s", "lower"),
    "queries.py4j_calls": ("count", "lower"),
    "queries.build_jobs": ("count", "lower"),
    "dialect.calls": ("count", "lower"),
    "dialect.busy_s": ("s", "lower"),
    "session.write_busy_s": ("s", "lower"),
    "session.lineage_nodes": ("count", "lower"),
    "checkpoint.calls": ("count", "lower"),
    "checkpoint.busy_s": ("s", "lower"),
    "catalyst.analyze_s": ("s", "lower"),
    "catalyst.optimize_s": ("s", "lower"),
    "catalyst.physical_s": ("s", "lower"),
    "execute.busy_s": ("s", "lower"),
    "execute.jobs": ("count", "lower"),
    "execute.stages": ("count", "lower"),
    "execute.tasks": ("count", "lower"),
    "execute.sched_gap_s": ("s", "lower"),
    "execute.core_util": ("ratio", "higher"),
    "execute.failed_tasks": ("count", "lower"),
    "execute.task_run_s": ("s", "lower"),
    "execute.task_cpu_s": ("s", "lower"),
    "execute.gc_s": ("s", "lower"),
    "sources.scan_mb": ("MB", "lower"),
    "sources.scan_rows": ("count", "lower"),
    "sources.rows_per_result_row": ("ratio", "lower"),
    "shuffle.write_mb": ("MB", "lower"),
    "shuffle.read_mb": ("MB", "lower"),
    "shuffle.spill_mb": ("MB", "lower"),
    "operators.python_sent_mb": ("MB", "lower"),
    "operators.python_recv_mb": ("MB", "lower"),
    "storage.cached_mb": ("MB", "lower"),
    "mem.jvm_peak_rss_mb": ("MB", "lower"),
    "mem.heap_after_gc_mb": ("MB", "lower"),
    "trace.pass_s": ("s", "lower"),
    "trace.overhead_s": ("s", "lower"),
}

_PYTHON_NODES = ("Python", "Pandas", "ArrowEval")


def _ms(opt) -> float | None:
    """Epoch seconds from a Scala ``Option[Date]``."""
    return opt.get().getTime() / 1e3 if opt.isDefined() else None


def _union_s(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    return total + (cur_hi - cur_lo if cur_hi is not None else 0.0)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the part of it its children cover."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append((s["start"], s["end"]))
    out = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        clipped = [(max(a, lo), min(b, hi)) for a, b in kids[s["id"]] if min(b, hi) > max(a, lo)]
        out[s["id"]] = (hi - lo) - _union_s(clipped)
    return out


class Tracer:
    """Span recorder and per-pass layer counters for one traced run."""

    def __init__(self, cores: int):
        self.cores = cores
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.pass_no = 0
        self.counts: dict[str, float] = defaultdict(float)
        self.result_rows = 0
        self.phase: str | None = None
        self._undo: list = []
        self._layer_depth: dict[str, int] = defaultdict(int)

    # -- spans ----------------------------------------------------------- #
    def _add(self, name: str, layer: str, start: float, end: float, parent: dict | None) -> dict:
        if parent is not None:
            # the status store keeps whole milliseconds: clamp into the parent
            start = min(max(start, parent["start"]), parent["end"])
            end = min(max(end, start), parent["end"])
        span = {
            "id": len(self.spans),
            "parent": parent["id"] if parent else None,
            "name": name,
            "layer": layer,
            "pass": self.pass_no,
            "start": start,
            "end": end,
        }
        self.spans.append(span)
        return span

    @contextmanager
    def span(self, name: str, layer: str):
        span = {
            "id": len(self.spans),
            "parent": self.stack[-1]["id"] if self.stack else None,
            "name": name,
            "layer": layer,
            "pass": self.pass_no,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(span)
        self.stack.append(span)
        try:
            yield span
        finally:
            span["end"] = time.time()
            self.stack.pop()

    # -- wrappers --------------------------------------------------------- #
    def _wrap(self, fn, layer: str, label: str, calls_key: str | None, busy_key: str | None):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            outer = tracer._layer_depth[layer] == 0
            tracer._layer_depth[layer] += 1
            try:
                with tracer.span(label, layer) as sp:
                    return fn(*args, **kwargs)
            finally:
                tracer._layer_depth[layer] -= 1
                # dialect.calls counts calls into the layer; checkpoint.calls
                # counts every materialization, under checkpoint_if_large or not
                if calls_key and (outer or layer == "checkpoint"):
                    tracer.counts[calls_key] += 1
                if busy_key and outer:
                    tracer.counts[busy_key] += sp["end"] - sp["start"]

        return wrapper

    def _patch_everywhere(self, orig, wrapper) -> None:
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith("qurious_spark"):
                continue
            for attr, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, attr, wrapper)
                    self._undo.append((mod, attr, orig))

    def install(self, spark) -> None:
        import qurious_spark.checkpoint as ckpt
        import qurious_spark.dialect as dialect
        import qurious_spark.queries as q
        from qurious_spark.session import ManagedTable, Session

        q.load_all()
        for mod, layer in ((dialect, "dialect"), (ckpt, "checkpoint")):
            for name, fn in list(vars(mod).items()):
                if (
                    name.startswith("_")
                    or not inspect.isfunction(fn)
                    or fn.__module__ != mod.__name__
                ):
                    continue
                calls = "dialect.calls" if layer == "dialect" else (
                    "checkpoint.calls" if name == "checkpoint" else None
                )
                self._patch_everywhere(
                    fn, self._wrap(fn, layer, f"{layer}.{name}", calls, f"{layer}.busy_s")
                )
        for cls, names in (
            (ManagedTable, ("insert_df", "delete_where", "update_set", "replace_df")),
            (Session, ("sql",)),
        ):
            for name in names:
                fn = cls.__dict__[name]
                setattr(cls, name, self._wrap(fn, "session", f"{cls.__name__}.{name}", None, "session.busy_s"))
                self._undo.append((cls, name, fn))

        client = spark.sparkContext._gateway._gateway_client
        send = client.send_command
        tracer = self

        def counted_send(*args, **kwargs):
            if tracer.phase == "build":
                tracer.counts["queries.py4j_calls"] += 1
            return send(*args, **kwargs)

        client.send_command = counted_send
        self._undo.append((client, "send_command", None))

    def uninstall(self) -> None:
        for obj, attr, orig in reversed(self._undo):
            if orig is None:
                delattr(obj, attr)
            else:
                setattr(obj, attr, orig)
        self._undo.clear()

    # -- one operation ----------------------------------------------------- #
    @contextmanager
    def operation(self, op_id: int, name: str, kind: str, spark):
        self._op_id = op_id
        self._phases: dict[str, dict] = {}
        self.counts["session.busy_s"] = 0.0
        with self.span(name, "op") as sp:
            yield sp
        if kind == "write":
            self.counts["session.write_busy_s"] += self.counts["session.busy_s"]

    @contextmanager
    def phase_span(self, phase: str, spark):
        spark.sparkContext.setJobGroup(f"pb{self._op_id}:{phase}", phase, False)
        self.phase = phase
        try:
            with self.span(phase, "op-phase") as sp:
                self._phases[phase] = sp
                yield sp
        finally:
            self.phase = None
            spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)

    def finish(self, op_span: dict, spark, df, n_rows: int | None) -> None:
        """After the op: attribute its jobs, stages and plan phases."""
        t0 = time.perf_counter()
        sc = spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store, tracker = jsc.statusStore(), sc.statusTracker()
        c = self.counts
        seen: set[int] = set()
        for phase, psp in self._phases.items():
            c["queries.build_s" if phase == "build" else "execute.busy_s"] += psp["end"] - psp["start"]
            stage_iv = []
            for jid in sorted(tracker.getJobIdsForGroup(f"pb{self._op_id}:{phase}")):
                jd = store.job(jid)
                c["queries.build_jobs" if phase == "build" else "execute.jobs"] += 1
                jsp = self._add(f"job {jid}", "spark-job", _ms(jd.submissionTime()) or psp["start"], _ms(jd.completionTime()) or psp["end"], psp)
                sids = jd.stageIds()
                for k in range(sids.size()):
                    sid = sids.apply(k)
                    if sid in seen:
                        continue
                    seen.add(sid)
                    sd = store.lastStageAttempt(sid)
                    if sd.status().toString() == "SKIPPED":
                        continue
                    s0, s1 = _ms(sd.submissionTime()), _ms(sd.completionTime())
                    if s0 is not None and s1 is not None:
                        ssp = self._add(f"stage {sid}", "spark-stage", s0, s1, jsp)
                        stage_iv.append((ssp["start"], ssp["end"]))
                    c["execute.stages"] += 1
                    c["execute.tasks"] += sd.numCompleteTasks()
                    c["execute.failed_tasks"] += sd.numFailedTasks()
                    c["execute.task_run_s"] += sd.executorRunTime() / 1e3
                    c["execute.task_cpu_s"] += sd.executorCpuTime() / 1e9
                    c["execute.gc_s"] += sd.jvmGcTime() / 1e3
                    c["sources.scan_mb"] += sd.inputBytes() / 1e6
                    c["sources.scan_rows"] += sd.inputRecords()
                    c["shuffle.write_mb"] += sd.shuffleWriteBytes() / 1e6
                    c["shuffle.read_mb"] += sd.shuffleReadBytes() / 1e6
                    c["shuffle.spill_mb"] += sd.diskBytesSpilled() / 1e6
            if phase == "execute":
                wall = psp["end"] - psp["start"]
                c["execute.sched_gap_s"] += max(0.0, wall - _union_s(stage_iv))
        if df is not None:
            qe = df._jdf.queryExecution()
            phases = qe.tracker().phases()
            for key, metric in (
                ("analysis", "catalyst.analyze_s"),
                ("optimization", "catalyst.optimize_s"),
                ("planning", "catalyst.physical_s"),
            ):
                opt = phases.get(key)
                if not opt.isDefined():
                    continue
                ph = opt.get()
                lo, hi = ph.startTimeMs() / 1e3, ph.endTimeMs() / 1e3
                c[metric] += ph.durationMs() / 1e3
                mid = (lo + hi) / 2
                parent = next(
                    (p for p in self._phases.values() if p["start"] <= mid <= p["end"]),
                    op_span,
                )
                self._add(metric.split(".")[1][:-2], "catalyst", lo, hi, parent)
            self._python_bytes(qe)
        if n_rows is not None:
            self.result_rows += n_rows
        self.counts["trace.overhead_s"] += time.perf_counter() - t0

    def _python_bytes(self, qe) -> None:
        """Bytes sent to and received from Python workers, from the SQL
        metrics of the executed plan's Python nodes."""
        plan = qe.executedPlan()
        if not any(tag in plan.toString() for tag in _PYTHON_NODES):
            return
        stack = [plan]
        while stack:
            node = stack.pop()
            cls = node.getClass().getSimpleName()
            if cls == "AdaptiveSparkPlanExec":
                stack.append(node.executedPlan())
                continue
            if cls.endswith("QueryStageExec"):
                stack.append(node.plan())
                continue
            metrics = node.metrics()
            for key, name in (
                ("pythonDataSent", "operators.python_sent_mb"),
                ("pythonDataReceived", "operators.python_recv_mb"),
            ):
                if metrics.contains(key):
                    self.counts[name] += metrics.apply(key).value() / 1e6
            kids = node.children()
            stack.extend(kids.apply(i) for i in range(kids.size()))

    # -- one pass ----------------------------------------------------------- #
    def end_pass(self, spark, pass_s: float) -> dict[str, float]:
        """Close the pass: sample storage and memory, return its metrics."""
        t0 = time.perf_counter()
        c = self.counts
        c["storage.cached_mb"] = cached_mb(spark)
        jvm = spark._jvm
        jvm.System.gc()
        heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        c["mem.heap_after_gc_mb"] = heap.getHeapMemoryUsage().getUsed() / 1e6
        c["mem.jvm_peak_rss_mb"] = jvm_peak_rss_mb(spark)
        busy = c["queries.build_s"] + c["execute.busy_s"]
        c["execute.core_util"] = c["execute.task_run_s"] / (busy * self.cores) if busy else 0.0
        c["sources.rows_per_result_row"] = c["sources.scan_rows"] / max(1, self.result_rows)
        c["trace.overhead_s"] += time.perf_counter() - t0
        c["trace.pass_s"] = pass_s
        out = {name: float(c.get(name, 0.0)) for name in LAYER_METRICS}
        self.counts = defaultdict(float)
        self.result_rows = 0
        self.pass_no += 1
        return out

    def write(self, path: str) -> None:
        selfs = self_times(self.spans)
        for s in self.spans:
            s["self"] = selfs[s["id"]]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


def cached_mb(spark) -> float:
    """Memory and disk held by cached or checkpointed RDD blocks."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(r.memSize() + r.diskSize() for r in infos) / 1e6


def jvm_peak_rss_mb(spark) -> float:
    """Peak resident set of the JVM this process launched."""
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1e3
    return 0.0
