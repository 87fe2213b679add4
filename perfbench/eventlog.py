"""Read a Spark event log (uncompressed JSON lines) into per-layer totals.

Jobs carry the job group the benchmark set around the call that started
them; stages are attributed to the first job that lists them; tasks to
their stage. A stage's RDD scopes name the physical operators it ran
(``MapInPandas`` for the XML parse, ``WriteFiles`` for a file sink).
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable
from dataclasses import dataclass, field


@dataclass
class Stage:
    submit: float = 0.0
    complete: float = 0.0
    scopes: set[str] = field(default_factory=set)
    tasks: int = 0
    run_ms: float = 0.0
    cpu_ns: float = 0.0
    gc_ms: float = 0.0
    shuffle_write: float = 0.0
    spill: float = 0.0


@dataclass
class Job:
    group: str | None
    start: float
    end: float
    stage_ids: list[int]


@dataclass
class Stages:
    """Totals over a set of stages."""

    n: int
    tasks: int
    run_s: float
    cpu_s: float
    gc_s: float
    shuffle_write_mb: float
    spill_mb: float
    span_s: float  # union of the stages' submit..complete intervals


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total / 1000


def find(directory: str) -> str:
    logs = [f for f in os.listdir(directory) if not f.startswith(".")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {directory}, found {logs}")
    return os.path.join(directory, logs[0])


class Log:
    def __init__(self) -> None:
        self.jobs: dict[int, Job] = {}
        self.stages: dict[int, Stage] = {}
        self.stage_job: dict[int, int] = {}

    def _stage_ids(self, keep: Callable[[str | None], bool]) -> list[int]:
        return [s for s, j in self.stage_job.items() if keep(self.jobs[j].group) and s in self.stages]

    def _sum(self, ids: list[int]) -> Stages:
        st = [self.stages[i] for i in ids]
        return Stages(
            n=len(st),
            tasks=sum(s.tasks for s in st),
            run_s=sum(s.run_ms for s in st) / 1e3,
            cpu_s=sum(s.cpu_ns for s in st) / 1e9,
            gc_s=sum(s.gc_ms for s in st) / 1e3,
            shuffle_write_mb=sum(s.shuffle_write for s in st) / 1e6,
            spill_mb=sum(s.spill for s in st) / 1e6,
            span_s=_union_s([(s.submit, s.complete) for s in st]),
        )

    def jobs_in(self, group: str) -> int:
        return sum(1 for j in self.jobs.values() if j.group == group)

    def totals(self, keep: Callable[[str | None], bool], w0_ms: float, w1_ms: float) -> dict[str, float]:
        """Spark-level metrics over the jobs whose group ``keep`` accepts;
        ``w0_ms``..``w1_ms`` is the wall-clock window they ran in."""
        jobs = [j for j in self.jobs.values() if keep(j.group)]
        s = self._sum(self._stage_ids(keep))
        busy = _union_s([(max(j.start, w0_ms), min(j.end, w1_ms)) for j in jobs])
        return {
            "spark.jobs": len(jobs),
            "spark.stages": s.n,
            "spark.tasks": s.tasks,
            "spark.driver_gap_s": (w1_ms - w0_ms) / 1000 - busy,
            "spark.executor_run_s": s.run_s,
            "spark.executor_cpu_s": s.cpu_s,
            "spark.shuffle_write_mb": s.shuffle_write_mb,
            "spark.spill_mb": s.spill_mb,
            "spark.gc_s": s.gc_s,
        }

    def stages_with_scope(self, scope: str, keep: Callable[[str | None], bool]) -> Stages | None:
        ids = [i for i in self._stage_ids(keep) if scope in self.stages[i].scopes]
        return self._sum(ids) if ids else None


def parse(path: str) -> Log:
    log = Log()
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                jid = e["Job ID"]
                log.jobs[jid] = Job(props.get("spark.jobGroup.id"), e["Submission Time"],
                                    e["Submission Time"], e["Stage IDs"])
                for sid in e["Stage IDs"]:
                    log.stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                log.jobs[e["Job ID"]].end = e["Completion Time"]
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                st = log.stages.setdefault(info["Stage ID"], Stage())
                st.submit = info.get("Submission Time", 0)
                st.complete = info.get("Completion Time", st.submit)
                for rdd in info.get("RDD Info", []):
                    if rdd.get("Scope"):
                        st.scopes.add(json.loads(rdd["Scope"])["name"])
            elif kind == "SparkListenerTaskEnd":
                st = log.stages.setdefault(e["Stage ID"], Stage())
                m = e.get("Task Metrics") or {}
                st.tasks += 1
                st.run_ms += m.get("Executor Run Time", 0)
                st.cpu_ns += m.get("Executor CPU Time", 0)
                st.gc_ms += m.get("JVM GC Time", 0)
                st.shuffle_write += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                st.spill += m.get("Disk Bytes Spilled", 0)
    return log
