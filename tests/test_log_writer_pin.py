"""One log writer: `fluss_spark/sources/log.py` owns the log commit dirs.

An AST scan of every module in `fluss_spark/`:

  - only `sources/log.py` calls a Parquet write (`<frame>.write...
    .parquet(path)`) whose path is a log commit dir or its staging dir
    (a `staging_path`/`commit_path`/`log_dir`/`remote_dir` expression,
    or a `log-v` literal), directly or through a variable assigned one;
  - the commit-dir name (`COMMIT_DIR_COL`, or a `__commit=` literal)
    appears only in `sources/log.py`, `catalog.py` (the orphan sweep's
    pattern) and `iceberg.py` (path to version);
  - `maintenance.py` starts no write at all: its jobs shape frames and
    hand them to `LogStore.write_commit` or `KvStore._rewrite_units`.
"""

from __future__ import annotations

import ast
import os

import pytest

from test_fsops_pin import PKG, _modules

LOG_TARGETS = ("staging_path", "commit_path", "log_dir", "remote_dir", "log-v")
NAME_OWNERS = {"sources/log.py", "catalog.py", "iceberg.py"}


def _rel(path: str) -> str:
    return os.path.relpath(path, PKG).replace(os.sep, "/")


def _parse(path: str) -> ast.AST:
    with open(path) as f:
        return ast.parse(f.read(), path)


def _log_parquet_writes(tree: ast.AST) -> list[int]:
    """Lines of `.write ... .parquet(p)` calls whose path names a log
    commit or staging dir, resolving `p = <expr>` assignments."""
    assigned: dict[str, list[str]] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Assign):
            for tgt in node.targets:
                if isinstance(tgt, ast.Name):
                    assigned.setdefault(tgt.id, []).append(ast.unparse(node.value))
    hits = []
    for node in ast.walk(tree):
        if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
            continue
        if node.func.attr != "parquet" or ".write" not in ast.unparse(node.func.value):
            continue
        srcs = []
        for arg in node.args:
            srcs.append(ast.unparse(arg))
            if isinstance(arg, ast.Name):
                srcs += assigned.get(arg.id, [])
        if any(t in src for src in srcs for t in LOG_TARGETS):
            hits.append(node.lineno)
    return hits


def _commit_dir_names(tree: ast.AST) -> list[int]:
    return [
        node.lineno
        for node in ast.walk(tree)
        if (isinstance(node, ast.Constant) and isinstance(node.value, str) and "__commit=" in node.value)
        or (isinstance(node, ast.Name) and node.id == "COMMIT_DIR_COL")
        or (isinstance(node, ast.alias) and node.name == "COMMIT_DIR_COL")
    ]


def test_only_log_store_writes_log_dirs():
    offenders = {}
    for path in _modules():
        hits = _log_parquet_writes(_parse(path))
        if hits and _rel(path) != "sources/log.py":
            offenders[_rel(path)] = hits
    assert offenders == {}


def test_only_log_store_names_commit_dirs():
    offenders = {}
    for path in _modules():
        hits = _commit_dir_names(_parse(path))
        if hits and _rel(path) not in NAME_OWNERS:
            offenders[_rel(path)] = hits
    assert offenders == {}


def test_maintenance_writes_nothing():
    tree = _parse(os.path.join(PKG, "maintenance.py"))
    writes = [n.lineno for n in ast.walk(tree) if isinstance(n, ast.Attribute) and n.attr == "write"]
    assert writes == []


@pytest.mark.parametrize(
    "src",
    [
        "df.write.mode('overwrite').parquet(log.staging_path(v))",
        "staged = self.staging_path(v)\nout.write.partitionBy('b').parquet(staged)",
        "df.write.parquet(os.path.join(t.log.log_dir, 'x'))",
    ],
)
def test_pin_sees_log_writes(src):
    assert _log_parquet_writes(ast.parse(src))


def test_pin_sees_commit_dir_names():
    src = "from fluss_spark.sources.log import COMMIT_DIR_COL\nx = f'{COMMIT_DIR_COL}=1'\ny = '__commit=2'"
    assert len(_commit_dir_names(ast.parse(src))) == 3


def test_pin_allows_other_writes():
    src = "df.write.parquet(os.path.join(self.snapshot_dir, d))\nspark.read.parquet(log.staging_path(v))"
    assert _log_parquet_writes(ast.parse(src)) == []
