"""Source guard for the one build-once protocol (no Spark needed).

Every derived catalog table is built through
``plans/indexes.py::build_once``: the latch on a ``*_ready`` marker and
every table of the build, drop-and-sweep, and the marker written last
by ``_write_marker``. A second stale-location sweep, a marker write
outside that helper, or a ``catalog.tableExists`` guard in a workload
module would bring back a builder with its own latch rule."""

from __future__ import annotations

import ast
import pathlib

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "is3107datapipelineproject_spark"


def _trees():
    for path in sorted(PACKAGE.rglob("*.py")):
        yield path.relative_to(PACKAGE), ast.parse(path.read_text())


def _chain(node: ast.AST) -> list[str]:
    """Attribute names of a call chain, outermost first:
    ``spark.range(1).write.saveAsTable(t)`` → saveAsTable, write, range."""
    names = []
    while True:
        if isinstance(node, ast.Call):
            node = node.func
        elif isinstance(node, ast.Attribute):
            names.append(node.attr)
            node = node.value
        else:
            return names


def test_one_stale_location_sweep():
    defs = [
        (str(rel), node.name)
        for rel, tree in _trees()
        for node in ast.walk(tree)
        if isinstance(node, ast.FunctionDef) and node.name.startswith("_sweep_stale")
    ]
    assert defs == [("plans/layout.py", "_sweep_stale_location")], defs


def test_marker_write_only_in_the_protocol():
    sites = []
    for rel, tree in _trees():
        for fn in ast.walk(tree):
            if not isinstance(fn, ast.FunctionDef):
                continue
            for node in ast.walk(fn):
                if isinstance(node, ast.Call):
                    chain = _chain(node)
                    if chain[:1] == ["saveAsTable"] and "range" in chain:
                        sites.append((str(rel), fn.name))
    assert sites == [("plans/indexes.py", "_write_marker")], sites


def test_no_table_exists_guard_in_workload():
    calls = [
        (str(rel), node.lineno)
        for rel, tree in _trees()
        if rel.parts[0] == "workload"
        for node in ast.walk(tree)
        if isinstance(node, ast.Call) and _chain(node)[:1] == ["tableExists"]
    ]
    assert not calls, calls
