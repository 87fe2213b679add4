"""Per-query profiler for the optimization rounds (guide §1).

Breaks the bench's timed span into its two components — driver-side
plan construction (the ``fn(spark, sf_dir)`` call: Python DSL build,
any eager driver jobs like approxQuantile probes or guard collects)
and distributed execution (the noop-sink write) — and optionally dumps
plan evidence. Uses the exact bench methodology (warm-up run, then a
timed fresh-plan run) so numbers are comparable with BENCH_DETAIL.json
rows.

``--explain DIR`` writes two files per query. ``DIR/q.txt`` is the
final DataFrame's ``.explain("formatted")``. ``DIR/q.executions.txt``
holds every SQL execution of the timed run(s), read back from the
session's event log: the plan at execution start and the last adaptive
(AQE) update. Eager driver jobs (guards, probes, eager checkpoints)
run as executions of their own, so only the second file shows them.

Usage:
    python tools/qprof.py q1,q2,...            # profile named queries
    python tools/qprof.py q1 --explain DIR     # also write DIR/q1.txt, DIR/q1.executions.txt
    python tools/qprof.py --top N              # slowest N from BENCH_DETAIL.json
"""

from __future__ import annotations

import argparse
import io
import json
import os
import shlex
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)


def _explain_str(df) -> str:
    buf = io.StringIO()
    stdout = sys.stdout
    try:
        sys.stdout = buf
        df.explain("formatted")
    finally:
        sys.stdout = stdout
    return buf.getvalue()


_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_AQE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"


def _execution_plans(log_dir: str) -> dict[str, list[tuple[int, str, str]]]:
    """``description -> [(execution id, start plan, last AQE plan)]`` from
    the uncompressed event log(s) in ``log_dir``; the description is the
    job description set when the execution started."""
    start: dict[int, tuple[str, str]] = {}
    final: dict[int, str] = {}
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                if _SQL_START not in line and _SQL_AQE not in line:
                    continue
                ev = json.loads(line)
                if ev["Event"] == _SQL_START:
                    start[ev["executionId"]] = (ev["description"], ev["physicalPlanDescription"])
                elif ev["Event"] == _SQL_AQE:
                    final[ev["executionId"]] = ev["physicalPlanDescription"]
    out: dict[str, list[tuple[int, str, str]]] = {}
    for eid in sorted(start):
        desc, plan = start[eid]
        out.setdefault(desc, []).append((eid, plan, final.get(eid, plan)))
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="?", default="", help="comma-separated query names")
    ap.add_argument("--top", type=int, default=0, help="profile slowest N per BENCH_DETAIL.json")
    ap.add_argument("--explain", default="", help="directory to write explain('formatted') dumps")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--repeat", type=int, default=1, help="timed repetitions (min reported)")
    args = ap.parse_args()

    names = [n for n in args.names.split(",") if n]
    if args.top:
        with open(os.path.join(HERE, "BENCH_DETAIL.json")) as f:
            det = json.load(f)
        names += [
            k
            for k, _ in sorted(det["queries"].items(), key=lambda kv: -kv[1])[: args.top]
            if k not in names
        ]

    log_dir = ""
    if args.explain:
        # Plain-text event log, set before the JVM starts (the confs are static).
        log_dir = tempfile.mkdtemp(prefix="qprof-eventlog-")
        confs = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
        submit = [a for k, v in confs.items() for a in ("--conf", f"{k}={v}")]
        # Keep the caller's submit args; ours come last so the log lands in log_dir.
        given = shlex.split(os.environ.get("PYSPARK_SUBMIT_ARGS", ""))
        given = [a for a in given if a != "pyspark-shell"]
        os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(given + submit + ["pyspark-shell"])

    from is3107datapipelineproject_spark.session import get_spark
    from is3107datapipelineproject_spark.workload import registry

    spark = get_spark(app_name="qprof")
    spark.sparkContext.setLogLevel("ERROR")
    qs = registry.queries()
    qs["agg_count_by_year"](spark, args.sf).write.format("noop").mode("overwrite").save()

    print(f"{'query':35s} {'plan_s':>7s} {'exec_s':>7s} {'timed_s':>8s}")
    for name in names:
        fn = qs[name]
        spark.sparkContext.setJobDescription(f"qprof warmup: {name}")
        fn(spark, args.sf).write.format("noop").mode("overwrite").save()
        best = None
        for _ in range(max(1, args.repeat)):
            spark.sparkContext.setJobDescription(f"qprof timed: {name}")
            t0 = time.perf_counter()
            df = fn(spark, args.sf)
            t_plan = time.perf_counter() - t0
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t_exec = time.perf_counter() - t1
            rec = (t_plan + t_exec, t_plan, t_exec)
            if best is None or rec[0] < best[0]:
                best = rec
        total, t_plan, t_exec = best
        print(f"{name:35s} {t_plan:7.3f} {t_exec:7.3f} {total:8.3f}", flush=True)
        if args.explain:
            spark.sparkContext.setJobDescription(f"qprof explain: {name}")
            os.makedirs(args.explain, exist_ok=True)
            with open(os.path.join(args.explain, f"{name}.txt"), "w") as f:
                f.write(_explain_str(fn(spark, args.sf)))
        spark.sparkContext.setJobDescription(None)
    spark.stop()  # flushes the event log
    if log_dir:
        plans = _execution_plans(log_dir)
        for name in names:
            with open(os.path.join(args.explain, f"{name}.executions.txt"), "w") as f:
                for eid, first, last in plans.get(f"qprof timed: {name}", []):
                    f.write(f"== execution {eid}: start ==\n{first}\n")
                    f.write(f"== execution {eid}: last AQE update ==\n{last}\n\n")
        shutil.rmtree(log_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
