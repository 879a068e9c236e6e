"""Minimal Apache Avro object-container-file codec (public spec subset).

Iceberg's manifest and manifest-list files are Avro; this container
ships no Avro library (neither `avro` nor `fastavro`), so — same
vendoring rule as the PNG/WAV/Y4M codecs in this package — the subset
of the PUBLIC Avro 1.11 specification that Iceberg metadata needs is
implemented here from the spec: the object container file format
(magic, file-metadata map, sync-marker-delimited blocks, `null`
codec) and the binary encoding for records, [null, X] unions, string,
bytes, fixed, boolean, int, long, float, double, arrays, maps and
nested records. Schemas are plain parsed-JSON Avro schemas (dicts /
lists / primitive-name strings); extra attributes like Iceberg's
`field-id` pass through untouched.

Reference parity: the reference tiers snapshots into Iceberg through
the iceberg-java library (fluss-lake/fluss-lake-iceberg/.../tiering/
IcebergLakeTieringFactory.java:39); here the same wire artifacts are
produced directly.
"""

from __future__ import annotations

import io
import json
import os
import struct

from fluss_spark import fsops

MAGIC = b"Obj\x01"

_PRIMITIVES = {
    "null", "boolean", "int", "long", "float", "double", "bytes", "string"
}


# --------------------------------------------------------------------- #
# binary encoding
# --------------------------------------------------------------------- #
def _write_long(buf: io.BytesIO, n: int) -> None:
    # zigzag then varint (spec: int and long use the same encoding)
    n = (n << 1) ^ (n >> 63)
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            buf.write(bytes([b | 0x80]))
        else:
            buf.write(bytes([b]))
            return


def _read_long(buf: io.BytesIO) -> int:
    shift, acc = 0, 0
    while True:
        (b,) = buf.read(1)
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    return (acc >> 1) ^ -(acc & 1)


def _branch_index(union: list, value) -> int:
    """Pick the union branch: None -> the null branch, else the first
    non-null branch (the [null, X] shape Iceberg metadata uses)."""
    for i, s in enumerate(union):
        if s == "null" and value is None:
            return i
    for i, s in enumerate(union):
        if s != "null":
            return i
    raise ValueError(f"no branch for {value!r} in {union!r}")


def encode(schema, value, buf: io.BytesIO) -> None:
    if isinstance(schema, list):  # union
        i = _branch_index(schema, value)
        _write_long(buf, i)
        encode(schema[i], value, buf)
        return
    t = schema if isinstance(schema, str) else schema["type"]
    if t == "null":
        return
    if t == "boolean":
        buf.write(b"\x01" if value else b"\x00")
    elif t in ("int", "long"):
        _write_long(buf, int(value))
    elif t == "float":
        buf.write(struct.pack("<f", float(value)))
    elif t == "double":
        buf.write(struct.pack("<d", float(value)))
    elif t == "bytes":
        b = bytes(value)
        _write_long(buf, len(b))
        buf.write(b)
    elif t == "string":
        b = str(value).encode("utf-8")
        _write_long(buf, len(b))
        buf.write(b)
    elif t == "fixed":
        b = bytes(value)
        if len(b) != schema["size"]:
            raise ValueError(f"fixed size {schema['size']} != {len(b)}")
        buf.write(b)
    elif t == "record":
        for f in schema["fields"]:
            encode(f["type"], value[f["name"]], buf)
    elif t == "array":
        items = list(value)
        if items:
            _write_long(buf, len(items))
            for it in items:
                encode(schema["items"], it, buf)
        _write_long(buf, 0)
    elif t == "map":
        pairs = list(value.items())
        if pairs:
            _write_long(buf, len(pairs))
            for k, v in pairs:
                encode("string", k, buf)
                encode(schema["values"], v, buf)
        _write_long(buf, 0)
    else:
        raise ValueError(f"unsupported avro type: {t!r}")


def decode(schema, buf: io.BytesIO):
    if isinstance(schema, list):  # union
        return decode(schema[_read_long(buf)], buf)
    t = schema if isinstance(schema, str) else schema["type"]
    if t == "null":
        return None
    if t == "boolean":
        return buf.read(1) == b"\x01"
    if t in ("int", "long"):
        return _read_long(buf)
    if t == "float":
        return struct.unpack("<f", buf.read(4))[0]
    if t == "double":
        return struct.unpack("<d", buf.read(8))[0]
    if t == "bytes":
        return buf.read(_read_long(buf))
    if t == "string":
        return buf.read(_read_long(buf)).decode("utf-8")
    if t == "fixed":
        return buf.read(schema["size"])
    if t == "record":
        return {f["name"]: decode(f["type"], buf) for f in schema["fields"]}
    if t == "array":
        out = []
        while True:
            n = _read_long(buf)
            if n == 0:
                return out
            if n < 0:  # block with byte-size prefix (spec-legal)
                n = -n
                _read_long(buf)
            for _ in range(n):
                out.append(decode(schema["items"], buf))
    if t == "map":
        out = {}
        while True:
            n = _read_long(buf)
            if n == 0:
                return out
            if n < 0:
                n = -n
                _read_long(buf)
            for _ in range(n):
                k = decode("string", buf)
                out[k] = decode(schema["values"], buf)
    raise ValueError(f"unsupported avro type: {t!r}")


# --------------------------------------------------------------------- #
# object container file
# --------------------------------------------------------------------- #
_META_SCHEMA = {"type": "map", "values": "bytes"}
_BLOCK_RECORDS = 1000  # records per block: bounded decoder memory


def write_container(
    path: str, schema, records: list, metadata: dict | None = None
) -> int:
    """Write an Avro object container file (null codec); returns the
    file size in bytes. `metadata` values may be str or bytes."""
    meta = {"avro.schema": json.dumps(schema).encode(), "avro.codec": b"null"}
    for k, v in (metadata or {}).items():
        meta[k] = v.encode() if isinstance(v, str) else bytes(v)
    sync = os.urandom(16)
    buf = io.BytesIO()
    buf.write(MAGIC)
    encode(_META_SCHEMA, meta, buf)
    buf.write(sync)
    for s in range(0, len(records), _BLOCK_RECORDS):
        chunk = records[s : s + _BLOCK_RECORDS]
        body = io.BytesIO()
        for r in chunk:
            encode(schema, r, body)
        _write_long(buf, len(chunk))
        _write_long(buf, body.tell())
        buf.write(body.getvalue())
        buf.write(sync)
    data = buf.getvalue()
    fsops.write_atomic(path, data)
    return len(data)


def read_container(path: str):
    """Read an Avro object container file written with the null codec.
    Returns (schema, records, metadata) — metadata values as bytes."""
    with open(path, "rb") as f:
        buf = io.BytesIO(f.read())
    if buf.read(4) != MAGIC:
        raise ValueError(f"{path}: not an Avro container file")
    meta = decode(_META_SCHEMA, buf)
    codec = meta.get("avro.codec", b"null")
    if codec not in (b"null", b""):
        raise ValueError(f"{path}: unsupported codec {codec!r}")
    schema = json.loads(meta["avro.schema"])
    sync = buf.read(16)
    records = []
    while True:
        head = buf.read(1)
        if not head:
            break
        buf.seek(-1, io.SEEK_CUR)
        n = _read_long(buf)
        _read_long(buf)  # block byte size (unused with null codec)
        for _ in range(n):
            records.append(decode(schema, buf))
        if buf.read(16) != sync:
            raise ValueError(f"{path}: sync marker mismatch")
    return schema, records, meta
