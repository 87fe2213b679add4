"""Process-tree CPU accounting: a child reaped inside a span counts only
its CPU from inside the span.

Run: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import proctree  # noqa: E402

# Burns CPU for argv[1] seconds, waits for a line on stdin, burns argv[2]
# seconds more, then exits.
BURNER = """
import sys, time
def burn(s):
    end = time.process_time() + s
    while time.process_time() < end:
        pass
burn(float(sys.argv[1]))
print("ready", flush=True)
sys.stdin.readline()
burn(float(sys.argv[2]))
"""


def _child_cpu(snap, pid):
    p = next(p for p in snap.values() if p.pid == pid)
    return (p.self_ticks + p.reaped_ticks) * proctree.TICK_S


def test_child_reaped_inside_span_counts_only_in_span_cpu():
    before_s, inside_s = 0.6, 0.3
    child = subprocess.Popen(
        [sys.executable, "-c", BURNER, str(before_s), str(inside_s)],
        stdin=subprocess.PIPE,
        stdout=subprocess.PIPE,
        text=True,
    )
    try:
        assert child.stdout.readline().strip() == "ready"
        a = proctree.snapshot()
        assert _child_cpu(a, child.pid) >= before_s - 0.05
        child.stdin.write("go\n")
        child.stdin.flush()
        assert child.wait(timeout=30) == 0  # reaped here, inside the span
    finally:
        child.kill()
        child.wait()
    b = proctree.snapshot()
    assert all(p.pid != child.pid for p in b.values())

    cpu = proctree.cpu_between(a, b)
    # The reap moved the child's whole lifetime (~0.9 s) into our cutime;
    # only the ~0.3 s it burned after snapshot ``a`` belongs to the span.
    in_span = cpu["driver"] + cpu["pyworker"]
    assert inside_s - 0.1 <= in_span <= inside_s + 0.2, cpu


def test_live_child_counts_its_own_delta():
    child = subprocess.Popen(
        [sys.executable, "-c", BURNER, "0.2", "0.3"],
        stdin=subprocess.PIPE,
        stdout=subprocess.PIPE,
        text=True,
    )
    try:
        assert child.stdout.readline().strip() == "ready"
        a = proctree.snapshot()
        child.stdin.write("go\n")
        child.stdin.flush()
        deadline = time.time() + 30
        while _child_cpu(proctree.snapshot(), child.pid) < 0.45 and time.time() < deadline:
            time.sleep(0.02)
        b = proctree.snapshot()
        assert any(p.pid == child.pid for p in b.values())
        cpu = proctree.cpu_between(a, b)
        assert 0.2 <= cpu["pyworker"] <= 0.45, cpu
        assert proctree.rss_mb(b) > 0
    finally:
        child.kill()
        child.wait()
