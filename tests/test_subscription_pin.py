"""One changelog subscription: `LogStore.slice_from` (sources/log.py)
resumes, fences and bounds the slice of every offset consumer.

An AST scan of every module in `fluss_spark/`:

  - `bucket_epoch()` and `slice_end()` are called only in
    `sources/log.py`: no consumer reads its own epoch or slice end;
  - no other module compares `earliest_offsets()` with a start map: no
    function outside `sources/log.py` both calls `earliest_offsets()`
    and makes an ordering comparison (`<`, `<=`, `>`, `>=`), the shape
    of a retention fence of its own.
"""

from __future__ import annotations

import ast

import pytest

from test_fsops_pin import _modules
from test_log_writer_pin import _parse, _rel

SLICE_STEPS = {"bucket_epoch", "slice_end"}
ORDERING = (ast.Lt, ast.LtE, ast.Gt, ast.GtE)


def _called(node: ast.AST) -> str | None:
    if isinstance(node, ast.Call):
        f = node.func
        return f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
    return None


def _slice_steps(tree: ast.AST) -> list[int]:
    return [n.lineno for n in ast.walk(tree) if _called(n) in SLICE_STEPS]


def _retention_fences(tree: ast.AST) -> list[int]:
    """Lines of functions that call `earliest_offsets()` and compare."""
    hits = []
    for fn in ast.walk(tree):
        if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        body = list(ast.walk(fn))
        if any(_called(n) == "earliest_offsets" for n in body) and any(
            isinstance(n, ast.Compare) and any(isinstance(op, ORDERING) for op in n.ops)
            for n in body
        ):
            hits.append(fn.lineno)
    return hits


def test_only_log_store_takes_slice_steps():
    offenders = {}
    for path in _modules():
        hits = _slice_steps(_parse(path))
        if hits and _rel(path) != "sources/log.py":
            offenders[_rel(path)] = hits
    assert offenders == {}


def test_only_log_store_fences_retention():
    offenders = {}
    for path in _modules():
        hits = _retention_fences(_parse(path))
        if hits and _rel(path) != "sources/log.py":
            offenders[_rel(path)] = hits
    assert offenders == {}


@pytest.mark.parametrize(
    "src",
    [
        "def f(t):\n    return t.log.slice_end()",
        "def f(t):\n    e = t.log.bucket_epoch()",
    ],
)
def test_pin_sees_slice_steps(src):
    assert _slice_steps(ast.parse(src))


def test_pin_sees_retention_fences():
    src = (
        "def sync(base, start):\n"
        "    return {b: e for b, e in base.earliest_offsets().items() if start.get(b, 0) < e}\n"
    )
    assert _retention_fences(ast.parse(src)) == [1]


def test_pin_allows_offset_reads():
    src = "def list_offsets(t, spec):\n    if spec == 'earliest':\n        return t.earliest_offsets()\n"
    assert _retention_fences(ast.parse(src)) == []
