"""Benchmark of the DBLP pipeline engine, one workload per process.

    python3 perfbench/run.py --workload refresh|lookups|analytics \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The last line of standard output is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones (setup_s, run_s,
cpu_s, op_p50_ms); with ``--trace 1`` Spark's event log is
on and the metrics are the per-layer ones, which are also printed as a
table and written to ``.perfbench_traces/<workload>-seed<N>.md``.

Every run works in a private directory under ``.perfbench_tmp/`` (Spark
warehouse and local dirs, staged pages, generated tables, event log,
temp files) and removes it on exit, after the JVM and its Python
workers have ended. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import sys
import tempfile
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import harness  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    base = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(base, exist_ok=True)
    private = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=base)
    for sub in ("tmp", "local", "warehouse", "eventlog"):
        os.makedirs(os.path.join(private, sub))
    tmp = os.path.join(private, "tmp")
    confs = {
        "spark.sql.warehouse.dir": os.path.join(private, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress": "false",
    }
    if args.trace:
        confs |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(private, "eventlog"),
            # Spark 4 compresses event logs with zstd by default; keep them
            # plain so the standard library can read them.
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    submit = [a for k, v in confs.items() for a in ("--conf", f"{k}={v}")]
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(private, "local"),
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        PYSPARK_SUBMIT_ARGS=shlex.join(submit + ["pyspark-shell"]),
    )
    tempfile.tempdir = tmp
    sys.path.insert(0, ROOT)

    bench = harness.Bench(args.workload, args.seed, args.seconds, bool(args.trace), private)
    try:
        result = bench.run()
    except Exception:  # noqa: BLE001 - report, clean up, exit non-zero
        traceback.print_exc()
        return 1
    finally:
        bench.close()
        shutil.rmtree(private, ignore_errors=True)
        try:
            os.rmdir(base)  # only if no concurrent run is using it
        except OSError:
            pass
    if args.trace:
        table = harness.layer_table(args.workload, args.seed, result)
        out = os.path.join(ROOT, ".perfbench_traces")
        os.makedirs(out, exist_ok=True)
        with open(os.path.join(out, f"{args.workload}-seed{args.seed}.md"), "w") as f:
            f.write(table)
        print(table)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
