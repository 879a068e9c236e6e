"""Every filesystem mutation in `fluss_spark/` goes through `fsops.py`.

An AST scan of each module for the calls that create, replace or delete
files: `os.rename/replace/remove/unlink/rmdir/makedirs/mkdir`, `os.open`
with `O_EXCL`, any `shutil.*`, `tempfile.mkstemp`, pathlib's
`write_text/write_bytes`, and the builtin `open` in a writing mode.
Import aliases (`import os as _os`, `from shutil import rmtree`) are
resolved, so a renamed import does not hide a call. Spark's own Parquet
writes are not file calls and are out of scope.
"""

from __future__ import annotations

import ast
import os

import pytest

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "fluss_spark")

OS_MUTATORS = {"rename", "replace", "remove", "unlink", "rmdir", "makedirs", "mkdir", "removedirs", "renames"}


def _modules() -> list[str]:
    out = []
    for root, _dirs, files in os.walk(PKG):
        out += [os.path.join(root, f) for f in files if f.endswith(".py")]
    return sorted(out)


def _mutations(tree: ast.AST) -> list[str]:
    """`module.func` names of the mutating calls in one module."""
    alias: dict[str, str] = {}  # local name -> "os" / "shutil" / "os.rename" ...
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                alias[a.asname or a.name] = a.name
        elif isinstance(node, ast.ImportFrom) and node.module in ("os", "shutil", "tempfile"):
            for a in node.names:
                alias[a.asname or a.name] = f"{node.module}.{a.name}"
    found = []
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        f = node.func
        if isinstance(f, ast.Attribute) and isinstance(f.value, ast.Name):
            name = f"{alias.get(f.value.id, f.value.id)}.{f.attr}"
        elif isinstance(f, ast.Name):
            name = alias.get(f.id, f.id)
        else:
            name = f.attr if isinstance(f, ast.Attribute) else ""
        mod, _, attr = name.rpartition(".")
        if (
            (mod == "os" and attr in OS_MUTATORS)
            or mod == "shutil"
            or name == "tempfile.mkstemp"
            or attr in ("write_text", "write_bytes")
            or (name == "os.open" and "O_EXCL" in ast.dump(node))
        ):
            found.append(f"{name}:{node.lineno}")
        elif name == "open":
            mode = node.args[1] if len(node.args) > 1 else next(
                (k.value for k in node.keywords if k.arg == "mode"), None
            )
            if mode is not None and not (
                isinstance(mode, ast.Constant) and not set(str(mode.value)) & set("wax+")
            ):
                found.append(f"open:{node.lineno}")
    return found


def test_only_fsops_mutates_files():
    offenders = {}
    for path in _modules():
        if os.path.basename(path) == "fsops.py" and os.path.dirname(path) == PKG:
            continue
        with open(path) as f:
            hits = _mutations(ast.parse(f.read(), path))
        if hits:
            offenders[os.path.relpath(path, PKG)] = hits
    assert offenders == {}


@pytest.mark.parametrize(
    "src",
    [
        "import os as _os\n_os.rename('a', 'b')",
        "from shutil import rmtree\nrmtree('a')",
        "import shutil\nshutil.copytree('a', 'b')",
        "import tempfile\ntempfile.mkstemp()",
        "import os\nos.open('p', os.O_CREAT | os.O_EXCL)",
        "open('p', 'wb')",
        "open('p', mode='a')",
        "import pathlib\npathlib.Path('p').write_text('x')",
    ],
)
def test_pin_sees_each_mutation_shape(src):
    assert _mutations(ast.parse(src))


def test_pin_allows_reads():
    src = "import os\nopen('p')\nopen('p', 'rb')\nos.open('p', os.O_RDONLY)\nos.listdir('.')"
    assert _mutations(ast.parse(src)) == []
