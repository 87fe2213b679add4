"""Source guard for operators/dedup.py (no Spark needed).

The MinHash and SimHash tiers share one banded-bucket body, and the
blocked and unblocked PPJoin tiers share one prefix-posting builder. A
second pair generator, bucket build or copy of the prefix bound would
let the tiers drift apart again, so each may appear once."""

from __future__ import annotations

import ast
import pathlib

DEDUP = (
    pathlib.Path(__file__).resolve().parent.parent
    / "is3107datapipelineproject_spark"
    / "operators"
    / "dedup.py"
)


def _calls(name: str) -> list[ast.Call]:
    tree = ast.parse(DEDUP.read_text())
    return [
        n
        for n in ast.walk(tree)
        if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute) and n.func.attr == name
    ]


def _lines(calls: list[ast.Call]) -> list[int]:
    return [c.lineno for c in calls]


def test_one_pair_generator():
    calls = _calls("posexplode")
    assert len(calls) <= 1, f"posexplode( pair generators at lines {_lines(calls)}"


def test_one_band_bucket_build():
    calls = [c for c in _calls("groupBy") if [ast.unparse(a) for a in c.args] == ["'band'"]]
    assert len(calls) <= 1, f'groupBy("band") bucket builds at lines {_lines(calls)}'


def test_one_prefix_bound():
    calls = [
        c
        for c in _calls("ceil")
        if c.args and ast.unparse(c.args[0]).startswith("F.lit(tau) * F.col('m')")
    ]
    assert len(calls) <= 1, f"prefix-bound copies at lines {_lines(calls)}"
