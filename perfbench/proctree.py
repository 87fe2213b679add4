"""CPU and resident memory of a process tree, read from /proc.

A run's process tree is the benchmark's Python driver, the JVM that
PySpark launches, and the JVM's Python workers (``pyspark.daemon`` and
the workers it forks). ``snapshot`` reads every process in the tree;
``cpu_between`` turns two snapshots into CPU seconds per process kind.

CPU of a process that ended between the two snapshots reaches its
parent's ``cutime``/``cstime`` when the parent reaps it, and it arrives
whole: the child's CPU from before the first snapshot too. Counting the
parent's reaped-CPU delta alone would count that earlier CPU twice (once
in an earlier span, once here). So each process is keyed by
(pid, start time), and for every process that was alive at the first
snapshot and gone at the second, its CPU up to the first snapshot is
taken back from the in-tree ancestor that absorbed it.
"""

from __future__ import annotations

import os
import threading
from dataclasses import dataclass

TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")
PAGE_BYTES = os.sysconf("SC_PAGE_SIZE")
RSS_INTERVAL_S = 0.1  # PeakRss sampling period
KINDS = ("driver", "jvm", "pyworker")


@dataclass(frozen=True)
class Proc:
    pid: int
    ppid: int
    start: int          # start time in clock ticks after boot
    comm: str
    state: str
    self_ticks: int     # utime + stime
    reaped_ticks: int   # cutime + cstime: CPU of children it has waited for
    rss_pages: int


def _read(pid: int) -> Proc | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            data = f.read()
    except OSError:  # ended while we listed /proc
        return None
    close = data.rfind(b")")
    comm = data[data.find(b"(") + 1 : close].decode(errors="replace")
    fld = data[close + 2 :].split()  # fld[0] is field 3 (state) of proc(5)
    return Proc(
        pid=pid,
        ppid=int(fld[1]),
        start=int(fld[19]),
        comm=comm,
        state=fld[0].decode(),
        self_ticks=int(fld[11]) + int(fld[12]),
        reaped_ticks=int(fld[13]) + int(fld[14]),
        rss_pages=int(fld[21]),
    )


Snapshot = dict[tuple[int, int], Proc]


def snapshot() -> Snapshot:
    """Every live process in the tree under this process, keyed by
    (pid, start time) so a reused pid is a new key."""
    root = os.getpid()
    procs = [p for p in (_read(int(d)) for d in os.listdir("/proc") if d.isdigit()) if p]
    children: dict[int, list[Proc]] = {}
    by_pid = {}
    for p in procs:
        children.setdefault(p.ppid, []).append(p)
        by_pid[p.pid] = p
    if root not in by_pid:
        return {}
    out: Snapshot = {}
    todo = [by_pid[root]]
    while todo:
        p = todo.pop()
        out[(p.pid, p.start)] = p
        todo.extend(children.get(p.pid, ()))
    return out


def kind_of(p: Proc) -> str:
    """``driver`` for this process, ``jvm`` for Java, ``pyworker`` for the
    rest (the JVM's Python workers are its only other descendants)."""
    if p.pid == os.getpid():
        return "driver"
    return "jvm" if p.comm == "java" else "pyworker"


def cpu_between(a: Snapshot, b: Snapshot) -> dict[str, float]:
    """CPU seconds spent by the tree between snapshots ``a`` and ``b``,
    split by process kind (see ``KINDS``)."""
    ticks = dict.fromkeys(KINDS, 0)
    for key, p in b.items():
        q = a.get(key)
        ticks[kind_of(p)] += p.self_ticks + p.reaped_ticks - (
            q.self_ticks + q.reaped_ticks if q else 0
        )
    live = {p.pid: p for p in b.values()}
    gone = {q.pid: q for key, q in a.items() if key not in b}
    for q in gone.values():
        # Walk up through processes that also ended until a live reaper.
        up = q.ppid
        while up in gone:
            up = gone[up].ppid
        if up in live:
            ticks[kind_of(live[up])] -= q.self_ticks + q.reaped_ticks
        # else: reaped outside the tree (orphaned); nothing was added.
    return {k: max(v, 0) * TICK_S for k, v in ticks.items()}


def rss_mb(s: Snapshot) -> float:
    return sum(p.rss_pages for p in s.values()) * PAGE_BYTES / 1e6


class PeakRss:
    """Samples the tree's summed resident memory on a thread until
    stopped; ``peak_mb`` is the largest sample."""

    def __init__(self):
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak_mb = max(self.peak_mb, rss_mb(snapshot()))
            if self._stop.wait(RSS_INTERVAL_S):
                return

    def __enter__(self) -> PeakRss:
        self._thread.start()
        return self

    def __exit__(self, *exc: object) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, rss_mb(snapshot()))


def descendants() -> list[tuple[int, int]]:
    """(pid, start) of every process below this one."""
    return [k for k, p in snapshot().items() if p.pid != os.getpid()]


def alive(key: tuple[int, int]) -> bool:
    """Whether the process is still running (a zombie has ended)."""
    p = _read(key[0])
    return p is not None and p.start == key[1] and p.state != "Z"
