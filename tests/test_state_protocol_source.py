"""Source guard for the streaming state-dir protocol (no Spark needed).

Every foreachBatch sink in streaming/windows.py reads and writes its
``batch=<id>`` state only through plans/layout.py::read_earlier and
write_batch, which carry the cold-start health check and the per-write
crash guard. An inline batch-partition path or a hand-written
``except AnalysisException`` cold start would bypass both."""

from __future__ import annotations

import ast
import pathlib

WINDOWS = (
    pathlib.Path(__file__).resolve().parent.parent
    / "is3107datapipelineproject_spark"
    / "streaming"
    / "windows.py"
)


def test_windows_has_no_inline_batch_partition_path():
    src = WINDOWS.read_text()
    for fmt in ("/batch={", "/batch_id={"):
        assert fmt not in src, f"inline {fmt!r} state path — use plans.layout.write_batch"


def test_windows_has_no_hand_written_cold_start():
    tree = ast.parse(WINDOWS.read_text())
    for node in ast.walk(tree):
        if not isinstance(node, ast.Try):
            continue
        catches = any(
            h.type is not None and "AnalysisException" in ast.unparse(h.type)
            for h in node.handlers
        )
        body = "\n".join(ast.unparse(s) for s in node.body)
        assert not (catches and "batch" in body), (
            f"line {node.lineno}: except AnalysisException around a state-dir "
            "read — use plans.layout.read_earlier"
        )
