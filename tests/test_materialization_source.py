"""Source guard for the one materialization mechanism (no Spark needed).

The package keeps intermediates with ``localCheckpoint`` at Spark's
default storage level (the contract in session.py's module docstring).
Two exceptions are stated there and nowhere else: the graph edge frames'
serialized level, set once in ``operators/graph.py::checkpoint_edges``,
and the ``durable`` branch of the prefix-filter dedup tiers,
``persist(StorageLevel.DISK_ONLY)``, which keeps lineage. Another
``storageLevel=`` argument, another ``StorageLevel``, a second
``persist`` or an ``unpersist`` would bring back a further mechanism."""

from __future__ import annotations

import ast
import pathlib

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "is3107datapipelineproject_spark"


def _trees():
    for path in sorted(PACKAGE.rglob("*.py")):
        yield path.relative_to(PACKAGE), ast.parse(path.read_text())


def _calls(attr: str):
    for rel, tree in _trees():
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == attr
            ):
                yield rel, node


def test_storage_level_argument_only_in_checkpoint_edges():
    sites = []
    for rel, tree in _trees():
        for fn in ast.walk(tree):
            if not isinstance(fn, ast.FunctionDef):
                continue
            for node in ast.walk(fn):
                if isinstance(node, ast.keyword) and node.arg == "storageLevel":
                    sites.append((str(rel), fn.name))
    assert sites == [("operators/graph.py", "checkpoint_edges")], sites


def test_storage_level_only_at_the_two_stated_exceptions():
    uses = []
    for rel, tree in _trees():
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Attribute)
                and isinstance(node.value, ast.Name)
                and node.value.id == "StorageLevel"
            ):
                uses.append((str(rel), node.attr))
    assert sorted(uses) == [
        ("operators/dedup.py", "DISK_ONLY"),
        ("operators/graph.py", "MEMORY_AND_DISK"),
    ], uses


def test_one_persist_and_no_unpersist():
    persists = [(str(rel), node.lineno) for rel, node in _calls("persist")]
    assert len(persists) <= 1, persists
    assert all(rel == "operators/dedup.py" for rel, _ in persists), persists
    unpersists = [(str(rel), node.lineno) for rel, node in _calls("unpersist")]
    assert not unpersists, unpersists


def test_no_materialization_wrappers():
    for rel, tree in _trees():
        for node in ast.walk(tree):
            if isinstance(node, ast.FunctionDef):
                assert node.name != "_materialize", (
                    f"{rel}:{node.lineno}: def {node.name} — call localCheckpoint directly"
                )
