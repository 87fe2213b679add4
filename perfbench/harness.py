"""Run one workload: session, set-up, timed phase, checks, metrics.

A workload is an object with ``setup()``, ``timed()`` and ``check()``
(see workloads.py). It calls the program's public functions inside
``Bench.span(layer)`` and counts each user-visible operation with
``Bench.op``. Tracing off, a span only takes the time. Tracing on, it
also tags the Spark jobs it starts with a job group named after the
layer and reads the process tree's CPU around it; Spark's event log then
gives jobs, stages, tasks and executor time per layer (eventlog.py).
"""

from __future__ import annotations

import os
import signal
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass

import eventlog
import proctree

LOOKUP_FNS = ("pair_lookup", "contains_author", "q1_nth_author_count", "collab_totals")
# Run in this order; the first one also pays the JVM's first use. Both
# rebuild the synthetic publications fact (XML synthesis and parse).
ANALYTICS_QUERIES = ("dblp_nth_author_count", "dblp_contains_author")

# (name, unit); lower is better for all of them.
END_TO_END = (
    ("setup_s", "s"),
    ("run_s", "s"),
    ("cpu_s", "CPU-s"),
    ("op_p50_ms", "ms"),
)
# (name, unit, better); every traced run reports all of them, 0 where a
# layer is not on the workload's path.
PER_LAYER = (
    [
        ("session.start_s", "s", "lower"),
        ("traced.run_s", "s", "lower"),
        ("proc.driver_cpu_s", "CPU-s", "lower"),
        ("proc.jvm_cpu_s", "CPU-s", "lower"),
        ("proc.pyworker_cpu_s", "CPU-s", "lower"),
        # Peak resident memory of the tree in the timed phase. Not end to
        # end: it depends on when the JVM grows its heap and swung from
        # 2.3 to 4.3 GB between runs of the same workload.
        ("proc.peak_rss_mb", "MB", "lower"),
        ("spark.jobs", "count", "lower"),
        ("spark.stages", "count", "lower"),
        ("spark.tasks", "count", "lower"),
        ("spark.driver_gap_s", "s", "lower"),
        ("spark.executor_run_s", "s", "lower"),
        ("spark.executor_cpu_s", "CPU-s", "lower"),
        ("spark.shuffle_write_mb", "MB", "lower"),
        ("spark.spill_mb", "MB", "lower"),
        ("spark.gc_s", "s", "lower"),
        ("sources.xml_flatten.task_s", "s", "lower"),
        ("sources.xml_flatten.records_per_cpu_s", "1/CPU-s", "higher"),
        ("plans.write_partitioned.s", "s", "lower"),
        ("plans.files_written", "count", "lower"),
        ("operators.incremental_merge.s", "s", "lower"),
        ("domain.dblp_pair_counts.s", "s", "lower"),
    ]
    + [(f"domain.{fn}.p50_ms", "ms", "lower") for fn in LOOKUP_FNS]
    + [(f"domain.{fn}.jobs_per_call", "count", "lower") for fn in LOOKUP_FNS]
    + [("domain.lookup.p95_ms", "ms", "lower")]
    + [
        (f"workload.{q}.{m}", unit, "lower")
        for q in ANALYTICS_QUERIES
        for m, unit in (("s", "s"), ("cpu_s", "CPU-s"), ("jobs", "count"))
    ]
)


def since_process_start() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks * proctree.TICK_S


def _timed(group: str | None) -> bool:
    return group not in ("setup", "check", None)


@dataclass
class Span:
    layer: str
    group: str
    t0: float
    t1: float
    cpu_s: float = 0.0

    @property
    def s(self) -> float:
        return self.t1 - self.t0


class Bench:
    def __init__(self, workload: str, seed: int, seconds: int, trace: bool, private: str):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.private = private
        self.spark = None
        self.spans: list[Span] = []
        self.ops: list[tuple[str, float, bool]] = []
        self.failures: list[str] = []
        self.layer: dict[str, float] = {}  # per-layer values a workload counts itself
        self.parsed_records = 0  # records the XML parse emits in the timed phase
        self.phase = "setup"
        self._gateway_proc = None
        self._children: list[tuple[int, int]] = []

    def path(self, *parts: str) -> str:
        return os.path.join(self.private, *parts)

    # -- spans, operations, checks ---------------------------------------

    def _group(self, label: str) -> None:
        if self.trace:
            self.spark.sparkContext.setJobGroup(label, label)

    @contextmanager
    def span(self, layer: str):
        """A call into one layer's public function. Only calls in the timed
        phase are recorded; set-up and checks keep their own job group."""
        if self.phase != "timed":
            yield
            return
        group = f"{layer}#{len(self.spans)}"
        self._group(group)
        a = proctree.snapshot() if self.trace else None
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            cpu = sum(proctree.cpu_between(a, proctree.snapshot()).values()) if self.trace else 0.0
            self.spans.append(Span(layer, group, t0, t1, cpu))
            self._group("timed")

    def _enter(self, phase: str) -> None:
        self.phase = phase
        self._group(phase)

    def op(self, kind: str, fn, *args):
        """One user-visible operation; returns its result, or None if it
        raised (counted in ``failed``)."""
        t0 = time.perf_counter()
        try:
            out, ok = fn(*args), True
        except Exception:  # noqa: BLE001 - a failed operation is counted, not fatal
            traceback.print_exc()
            out, ok = None, False
        self.ops.append((kind, time.perf_counter() - t0, ok))
        return out

    def expect(self, ok: bool, what: str) -> None:
        if not ok:
            self.failures.append(what)
            print(f"CHECK FAILED: {what}", file=sys.stderr, flush=True)

    # -- the run ---------------------------------------------------------

    def run(self) -> dict:
        from workloads import WORKLOADS

        from is3107datapipelineproject_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(app_name=f"perfbench-{self.workload}")
        self._gateway_proc = getattr(self.spark.sparkContext._gateway, "proc", None)
        session_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")

        wl = WORKLOADS[self.workload](self)
        self._enter("setup")
        wl.setup()
        setup_s = since_process_start()

        self._enter("timed")
        rss = proctree.PeakRss()  # samples on a thread, so only when tracing
        with rss if self.trace else nullcontext():
            a = proctree.snapshot()
            w0 = time.time()
            t0 = time.perf_counter()
            wl.timed()
            run_s = time.perf_counter() - t0
            w1 = time.time()
            cpu = proctree.cpu_between(a, proctree.snapshot())

        self._enter("check")
        t0 = time.perf_counter()
        wl.check()
        check_s = time.perf_counter() - t0
        self.shutdown()
        print(f"[perfbench] {self.workload}: session {session_s:.1f}s, setup {setup_s:.1f}s, "
              f"timed {run_s:.1f}s, check {check_s:.1f}s, ended {since_process_start():.1f}s",
              file=sys.stderr, flush=True)

        latencies = [s for _, s, ok in self.ops if ok]
        if not latencies:
            raise RuntimeError("every operation failed")
        result = {
            "correct": not self.failures,
            "attempted": len(self.ops),
            "failed": len(self.ops) - len(latencies),
        }
        if not self.trace:
            result["metrics"] = self._metrics(
                setup_s=setup_s,
                run_s=run_s,
                cpu_s=sum(cpu.values()),
                op_p50_ms=1000 * statistics.median(latencies),
            )
            return result
        log = eventlog.parse(eventlog.find(self.path("eventlog")))
        values = dict.fromkeys((name for name, _, _ in PER_LAYER), 0.0)
        values |= {
            "session.start_s": session_s,
            "traced.run_s": run_s,
            "proc.driver_cpu_s": cpu["driver"],
            "proc.jvm_cpu_s": cpu["jvm"],
            "proc.pyworker_cpu_s": cpu["pyworker"],
            "proc.peak_rss_mb": rss.peak_mb,
        }
        values |= log.totals(_timed, 1000 * w0, 1000 * w1)
        values |= self._span_metrics(log, cpu)
        values |= self.layer
        result["metrics"] = self._metrics(**values)
        return result

    def _span_metrics(self, log: eventlog.Log, cpu: dict[str, float]) -> dict[str, float]:
        by_layer: dict[str, list[Span]] = {}
        for sp in self.spans:
            by_layer.setdefault(sp.layer, []).append(sp)
        out: dict[str, float] = {}
        for layer, spans in by_layer.items():
            jobs = sum(log.jobs_in(sp.group) for sp in spans)
            if layer.split(".", 1)[-1] in LOOKUP_FNS:
                out[f"{layer}.p50_ms"] = 1000 * statistics.median(sp.s for sp in spans)
                out[f"{layer}.jobs_per_call"] = jobs / len(spans)
            elif layer.startswith("workload."):
                out[f"{layer}.s"] = sum(sp.s for sp in spans)
                out[f"{layer}.cpu_s"] = sum(sp.cpu_s for sp in spans)
                out[f"{layer}.jobs"] = jobs
            elif layer in ("domain.dblp_pair_counts", "operators.incremental_merge"):
                out[f"{layer}.s"] = sum(sp.s for sp in spans)
        lookups = [sp.s for sp in self.spans if sp.layer.split(".")[-1] in LOOKUP_FNS]
        if len(lookups) >= 2:
            out["domain.lookup.p95_ms"] = 1000 * statistics.quantiles(lookups, n=20)[-1]
        parse = log.stages_with_scope("MapInPandas", _timed)
        if parse:
            out["sources.xml_flatten.task_s"] = parse.run_s
            out["sources.xml_flatten.records_per_cpu_s"] = self.parsed_records / (
                parse.cpu_s + cpu["pyworker"]
            )
        write = log.stages_with_scope("WriteFiles", _timed)
        if write:
            out["plans.write_partitioned.s"] = write.span_s
        return out

    def _metrics(self, **values: float) -> dict:
        units = {name: unit for name, unit in END_TO_END} | {
            name: unit for name, unit, _ in PER_LAYER
        }
        return {k: {"value": float(v), "unit": units[k]} for k, v in values.items()}

    # -- shutdown --------------------------------------------------------

    def shutdown(self) -> None:
        """Stop Spark and wait until the JVM and every Python worker it
        started have ended (killing any that outlive a grace period)."""
        if self.spark is None:
            return
        self._children = proctree.descendants()
        spark, self.spark = self.spark, None
        try:
            spark.stop()
        finally:
            proc = self._gateway_proc
            if proc is not None and proc.poll() is None:
                proc.stdin.close()  # the gateway JVM exits when its stdin closes
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            self._reap()

    def _reap(self) -> None:
        deadline = time.time() + 20
        left = [k for k in self._children if proctree.alive(k)]
        while left and time.time() < deadline:
            time.sleep(0.05)
            left = [k for k in left if proctree.alive(k)]
        for pid, _ in left:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        deadline = time.time() + 10
        while [k for k in left if proctree.alive(k)] and time.time() < deadline:
            time.sleep(0.05)

    def close(self) -> None:
        if self.spark is not None:
            self.shutdown()
        else:
            self._reap()


def layer_table(workload: str, seed: int, result: dict) -> str:
    rows = [f"# {workload}, seed {seed}, traced ({len(os.sched_getaffinity(0))} cores)", "",
            "| metric | value | unit |", "|---|---|---|"]
    for name, unit, _ in PER_LAYER:
        v = result["metrics"][name]["value"]
        rows.append(f"| {name} | {v:.4g} | {unit} |")
    return "\n".join(rows) + "\n"
