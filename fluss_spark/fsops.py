"""The one module that mutates table files.

Every file or directory the engine creates, replaces or deletes goes
through these primitives; Spark's Parquet writes only ever target paths
no reader resolves (`<table>/.tmp`, or dirs numbered above CURRENT). A
table's crash behaviour is therefore the sequence of these calls, and a
test can stop a writer before any one (tests/test_crash_points.py).
What a crashed writer leaves is swept by the next `Catalog.write_lock`.
"""

from __future__ import annotations

import contextlib
import errno
import os
import shutil
import tempfile


def write_atomic(path: str, data: str | bytes) -> None:
    """Replace the file `path` with `data` in one rename from a unique
    hidden temp file in the same directory (removed on failure), so a
    reader sees the old content or the new, never a torn file."""
    d = os.path.dirname(path) or "."
    os.makedirs(d, exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=d, prefix=f".{os.path.basename(path)}.", suffix=".tmp")
    try:
        with os.fdopen(fd, "wb" if isinstance(data, bytes) else "w") as f:
            f.write(data)
        os.replace(tmp, path)
    except BaseException:
        with contextlib.suppress(FileNotFoundError):
            os.unlink(tmp)
        raise


def replace_dir(src: str, dst: str) -> None:
    """Move the directory `src` to `dst`, dropping a leftover `dst`
    first: one atomic rename within a filesystem. Across devices the
    tree is copied to a hidden `.tiering-*` dir beside `dst`, renamed,
    and only then is `src` dropped, so a crash never leaves a partial
    `dst`."""
    remove(dst)
    makedirs(os.path.dirname(dst))
    try:
        os.rename(src, dst)
    except OSError as e:
        if e.errno != errno.EXDEV:
            raise
        staging = os.path.join(os.path.dirname(dst), f".tiering-{os.path.basename(dst)}")
        remove(staging)
        shutil.copytree(src, staging)
        os.rename(staging, dst)
        remove(src)


def remove(path: str) -> None:
    """Delete a file or a whole directory tree; a missing path is fine."""
    try:
        if os.path.isdir(path) and not os.path.islink(path):
            shutil.rmtree(path)
        else:
            os.unlink(path)
    except FileNotFoundError:
        pass


def makedirs(path: str) -> None:
    """Create a directory and its parents; an existing one is fine."""
    os.makedirs(path, exist_ok=True)


def create_exclusive(path: str, data: str) -> bool:
    """Create `path` holding `data` only if it does not exist yet (the
    O_EXCL create behind the table write lock). False if it exists."""
    try:
        fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError:
        return False
    with os.fdopen(fd, "w") as f:
        f.write(data)
    return True
