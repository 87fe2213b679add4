"""Repeat the benchmark over several seeds and summarise it.

    python3 perfbench/report.py --workloads refresh,lookups,analytics \
        --seeds 1-10 [--seconds 10] [--trace]

For each workload, runs ``run.py`` once per seed, one run at a time, and
prints per metric the median, the quartiles, the spread (quartile
distance over median) and the wall time of each run. With ``--trace``
it also makes one traced run per workload (first seed) and reports the
tracing overhead: the traced run's ``traced.run_s`` minus the untraced
median ``run_s``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def run_once(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, float]:
    t0 = time.monotonic()
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, cwd=os.path.dirname(HERE),
    )
    wall = time.monotonic() - t0
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed}: exit {out.returncode}")
    return json.loads(out.stdout.strip().splitlines()[-1]), wall


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default="refresh,lookups,analytics")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args()
    for wl in args.workloads.split(","):
        results, walls = [], []
        for s in seeds(args.seeds):
            r, wall = run_once(wl, s, args.seconds, 0)
            results.append(r)
            walls.append(wall)
            print(f"{wl} seed {s}: {wall:.1f}s correct={r['correct']} "
                  f"failed={r['failed']}/{r['attempted']} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()),
                  flush=True)
        print(f"\n## {wl}: {len(results)} runs, wall median {statistics.median(walls):.1f}s, "
              f"total {sum(walls):.0f}s, all correct: {all(r['correct'] for r in results)}, "
              f"failed share {sorted({r['failed'] / r['attempted'] for r in results})}")
        print("| metric | median | q1 | q3 | spread |\n|---|---|---|---|---|")
        for m in results[0]["metrics"]:
            vals = [r["metrics"][m]["value"] for r in results]
            q1, med, q3 = statistics.quantiles(vals, n=4)
            print(f"| {m} | {statistics.median(vals):.4g} | {q1:.4g} | {q3:.4g} | "
                  f"{(q3 - q1) / statistics.median(vals):.3f} |")
        if args.trace:
            r, wall = run_once(wl, seeds(args.seeds)[0], args.seconds, 1)
            untraced = statistics.median(x["metrics"]["run_s"]["value"] for x in results)
            traced = r["metrics"]["traced.run_s"]["value"]
            print(f"\ntraced run: {wall:.1f}s wall, run_s {traced:.2f} vs untraced median "
                  f"{untraced:.2f}: overhead {traced - untraced:+.2f}s")
        print(flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
