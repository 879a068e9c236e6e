"""Apache Iceberg (format v2) metadata export over engine snapshots.

The reference tiers table data into lake formats so external engines
can union-read it natively — Iceberg among them
(fluss-lake/fluss-lake-iceberg/.../tiering/IcebergLakeTieringFactory.java:39,
LakeSource.java:43-77 withProject/withFilters/withLimit; website
docs/streaming-lakehouse/integrate-data-lakes/iceberg.md). Here the
log/snapshot files already ARE Parquet, so "tiering into Iceberg"
means writing Iceberg TABLE METADATA that references the engine's
committed files in place: a `metadata/vN.metadata.json` (+
`version-hint.text`, the HadoopTableOperations layout), a manifest
list and manifests (Avro, via the vendored codec in
functions/avro.py). Each export appends ONE Iceberg snapshot:
files new since the last export enter the manifest as ADDED, files
still live as EXISTING (keeping their original snapshot/sequence
numbers), files that left the snapshot (compaction / TTL / rebucket)
as DELETED — incremental mirroring, so a re-export after a 100-TB
compaction writes kilobytes of metadata, never data.

Partitioning: the engine's hive-style path segments
(`__commit=N/<user parts>/__bucket=M`) become an identity partition
spec. The partition columns are declared in the Iceberg schema but
omitted from the data files — the spec's migrated-table rule
("identity partition columns may be omitted from data files"); readers
project them from each manifest entry's partition struct.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass

from fluss_spark import fsops
from fluss_spark.functions.avro import read_container, write_container

_FORMAT_VERSION = 2
_ADDED, _EXISTING, _DELETED = 1, 0, 2


def lake_excluded_columns(schema) -> frozenset[str]:
    """Columns a lake export must NEVER surface for this table.

    PK-table snapshot data files carry the WAL system columns
    (_change_type, __seq, __sub, __offset, __timestamp — written as
    nulls by the fused single-action commit, sources/kv.py), so they
    appear in parquet footers; exports that build their schema from
    footers would leak them into the lake-facing schema. The
    reference's lake tiering exposes only data columns on the pk
    snapshot surface. Log tables intentionally export
    __offset/__timestamp — that IS their log surface — so nothing is
    excluded for them."""
    if not schema.is_pk_table:
        return frozenset()
    from fluss_spark.operators.replay import SEQ_COL, SUB_COL
    from fluss_spark.sources.kv import DEST_COL
    from fluss_spark.types import CHANGE_TYPE_COL, OFFSET_COL, TIMESTAMP_COL

    return frozenset(
        {CHANGE_TYPE_COL, SEQ_COL, SUB_COL, OFFSET_COL, TIMESTAMP_COL, DEST_COL}
    )


@dataclass
class IcebergExport:
    """Result of Admin.export_iceberg_metadata: one appended snapshot."""

    version: int  # metadata version written (vN.metadata.json)
    metadata_path: str
    snapshot_id: int
    n_add: int
    n_remove: int


# --------------------------------------------------------------------- #
# schema conversion (parquet footer -> iceberg schema JSON)
# --------------------------------------------------------------------- #
def _iceberg_type(arrow_type, alloc):
    import pyarrow as pa

    t = arrow_type
    if pa.types.is_boolean(t):
        return "boolean"
    if pa.types.is_int8(t) or pa.types.is_int16(t) or pa.types.is_int32(t):
        return "int"
    if pa.types.is_int64(t):
        return "long"
    if pa.types.is_float32(t):
        return "float"
    if pa.types.is_float64(t):
        return "double"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_timestamp(t):
        return "timestamptz" if t.tz else "timestamp"
    if pa.types.is_decimal(t):
        return f"decimal({t.precision}, {t.scale})"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "binary"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        eid = alloc()
        return {
            "type": "list",
            "element-id": eid,
            "element": _iceberg_type(t.value_type, alloc),
            "element-required": False,
        }
    if pa.types.is_struct(t):
        fields = []
        for i in range(t.num_fields):
            f = t.field(i)
            fid = alloc()
            fields.append(
                {
                    "id": fid,
                    "name": f.name,
                    "required": False,
                    "type": _iceberg_type(f.type, alloc),
                }
            )
        return {"type": "struct", "fields": fields}
    return "string"  # conservative fallback: path/opaque values


_SPARK_READ_T = {  # iceberg primitive -> spark cast type for projections
    "int": "int",
    "long": "bigint",
    "string": "string",
    "double": "double",
    "float": "float",
    "boolean": "boolean",
    "date": "date",
    "timestamp": "timestamp_ntz",
    "timestamptz": "timestamp",
}

_AVRO_PART_T = {  # iceberg primitive -> avro type for partition structs
    "int": "int",
    "long": "long",
    "string": "string",
    "double": "double",
    "float": "float",
    "boolean": "boolean",
}


# --------------------------------------------------------------------- #
# avro schemas for manifests (field-ids per the public Iceberg spec)
# --------------------------------------------------------------------- #
def _partition_avro(part_fields):
    return {
        "type": "record",
        "name": "r102",
        "fields": [
            {
                "name": pf["name"],
                "type": ["null", _AVRO_PART_T.get(pf["_type"], "string")],
                "default": None,
                "field-id": pf["field-id"],
            }
            for pf in part_fields
        ],
    }


def _manifest_entry_schema(part_fields):
    data_file = {
        "type": "record",
        "name": "r2",
        "fields": [
            {"name": "content", "type": "int", "field-id": 134},
            {"name": "file_path", "type": "string", "field-id": 100},
            {"name": "file_format", "type": "string", "field-id": 101},
            {"name": "partition", "type": _partition_avro(part_fields), "field-id": 102},
            {"name": "record_count", "type": "long", "field-id": 103},
            {"name": "file_size_in_bytes", "type": "long", "field-id": 104},
        ],
    }
    return {
        "type": "record",
        "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int", "field-id": 0},
            {"name": "snapshot_id", "type": ["null", "long"], "default": None, "field-id": 1},
            {"name": "sequence_number", "type": ["null", "long"], "default": None, "field-id": 3},
            {"name": "file_sequence_number", "type": ["null", "long"], "default": None, "field-id": 4},
            {"name": "data_file", "type": data_file, "field-id": 2},
        ],
    }


_MANIFEST_FILE_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
        {"name": "content", "type": "int", "field-id": 517},
        {"name": "sequence_number", "type": "long", "field-id": 515},
        {"name": "min_sequence_number", "type": "long", "field-id": 516},
        {"name": "added_snapshot_id", "type": "long", "field-id": 503},
        {"name": "added_files_count", "type": "int", "field-id": 504},
        {"name": "existing_files_count", "type": "int", "field-id": 505},
        {"name": "deleted_files_count", "type": "int", "field-id": 506},
        {"name": "added_rows_count", "type": "long", "field-id": 512},
        {"name": "existing_rows_count", "type": "long", "field-id": 513},
        {"name": "deleted_rows_count", "type": "long", "field-id": 514},
    ],
}


# --------------------------------------------------------------------- #
# export
# --------------------------------------------------------------------- #
def _path_partition_values(path: str) -> dict[str, str]:
    """Hive-style `k=v` path segments the engine writes."""
    return dict(
        seg.split("=", 1)
        for seg in path.split(os.sep)
        if "=" in seg and not seg.endswith(".parquet")
    )


def _read_version_hint(meta_dir: str) -> int:
    hint = os.path.join(meta_dir, "version-hint.text")
    if not os.path.isfile(hint):
        return 0
    with open(hint) as f:
        return int(f.read().strip())


def _load_metadata(meta_dir: str, version: int) -> dict:
    with open(os.path.join(meta_dir, f"v{version}.metadata.json")) as f:
        return json.load(f)


def _live_entries(meta: dict, meta_dir: str) -> dict[str, dict]:
    """file_path -> manifest entry for every live file of the current
    snapshot (DELETED entries drop out)."""
    snap_id = meta.get("current-snapshot-id", -1)
    snap = next(
        (s for s in meta.get("snapshots", []) if s["snapshot-id"] == snap_id), None
    )
    if snap is None:
        return {}
    _, manifests, _ = read_container(snap["manifest-list"])
    out: dict[str, dict] = {}
    for mf in manifests:
        _, entries, _ = read_container(mf["manifest_path"])
        for e in entries:
            if e["status"] != _DELETED:
                out[e["data_file"]["file_path"]] = e
    return out


def file_commit_version(path: str) -> int | None:
    """The commit version a data file was written under, from its path:
    log files live in __commit=N dirs, pk-snapshot files in data-vN
    dirs."""
    for seg in path.split(os.sep):
        if seg.startswith("__commit="):
            return int(seg.split("=", 1)[1])
        if seg.startswith("data-v"):
            return int(seg[len("data-v"):])
    return None


def _check_no_mixed_partition_layout(
    part_cols: list[str], files: list[str], label: str
) -> None:
    """Refuse lake export while the live file set mixes partition-dir
    layouts: if a user partition column appears in only SOME live
    files' paths (e.g. pk-snapshot dirs written before the partitioned
    single-action layout next to dirs written after), readers that
    project partition values from path/manifest metadata would surface
    NULLs for the old files. Compaction rewrites every file under the
    current layout, after which export proceeds. System path segments
    (__bucket, __commit) are present in every layout and exempt."""
    user_parts = [c for c in part_cols if not c.startswith("__")]
    if not user_parts:
        return
    for p in files:
        vals = _path_partition_values(p)
        missing = [c for c in user_parts if c not in vals]
        if missing:
            raise ValueError(
                f"{label} has live files written under a partition-dir "
                f"layout missing {missing} ({p}): lake export would "
                "surface NULL partition values for them. Run CALL "
                "sys.compact_snapshot to rewrite the snapshot under "
                "the current layout first."
            )


def _check_no_era_files(schema, files, label: str) -> None:
    """Refuse lake export while any LIVE file predates a rename/retype:
    such files carry OLD physical column names, and external readers
    resolve by name, so the mixed file set would mislabel columns.
    Compaction rewrites every file under the current schema, after
    which the (still-present) era records no longer cover any live
    file and export proceeds."""
    from fluss_spark.types import era_fields_for_commit, evolution_eras

    eras = evolution_eras(schema)
    if not eras:
        return
    for p in files:
        v = file_commit_version(p)
        if v is not None and era_fields_for_commit(eras, v) is not None:
            raise ValueError(
                f"{label} has live files written before a column "
                "rename/retype (schema-evolution era): lake export "
                "would mislabel their physical columns. Run CALL "
                "sys.compact_log / compact_snapshot to rewrite them "
                "under the current schema first."
            )


def export_iceberg_metadata(admin, db: str, name: str, target_dir: str) -> IcebergExport:
    """Append one Iceberg v2 snapshot mirroring the table's current
    lake snapshot (see module docstring). Data files are referenced in
    place by absolute path — nothing is copied."""
    import pyarrow.parquet as pq

    from fluss_spark.table import FlussTable

    snap = admin.get_latest_lake_snapshot(db, name)
    t0 = FlussTable(admin.catalog, db, name)
    _check_no_era_files(t0.schema, snap.files, f"{db}.{name}")
    meta_dir = os.path.join(target_dir, "metadata")
    fsops.makedirs(meta_dir)

    prior_version = _read_version_hint(meta_dir)
    prior = _load_metadata(meta_dir, prior_version) if prior_version else None
    live_before = _live_entries(prior, meta_dir) if prior else {}

    now_ms = int(time.time() * 1000)
    seq = (prior.get("last-sequence-number", 0) if prior else 0) + 1
    snapshot_id = int.from_bytes(os.urandom(8), "big") >> 1
    current = {os.path.abspath(p): p for p in snap.files}
    adds = sorted(set(current) - set(live_before))
    removes = sorted(set(live_before) - set(current))
    carried = sorted(set(live_before) & set(current))

    # ---- schema: union of live file footers + path partition columns,
    # with STABLE field ids: a name present in the prior export's schema
    # keeps its id (and its nested element/key ids) verbatim — external
    # Iceberg readers resolve columns BY ID, so reassigning ids per
    # export would silently remap columns across retained snapshots.
    # New names allocate monotonically from the prior last-column-id.
    # The footer union (prior schema covers the carried files; adds are
    # read here) means ADD COLUMN with pre-add files still live exports
    # the new column, and older files surface NULLs for it on read-back
    # (read_iceberg_table reads with the exported schema explicitly).
    t = FlussTable(admin.catalog, db, name)
    declared = {f.name: f.type.upper() for f in t.schema.fields}
    _DECL_ICE = {"INT": "int", "BIGINT": "long", "STRING": "string",
                 "DOUBLE": "double", "FLOAT": "float", "DATE": "date",
                 "TIMESTAMP": "timestamptz", "BOOLEAN": "boolean"}
    prior_schema = None
    if prior:
        prior_schema = next(
            (
                s
                for s in prior.get("schemas", [])
                if s.get("schema-id") == prior.get("current-schema-id", 0)
            ),
            None,
        )
    prior_fields = {f["name"]: f for f in (prior_schema or {}).get("fields", [])}
    next_id = [prior.get("last-column-id", 0) if prior else 0]
    # pk tables: WAL system columns in snapshot footers (and any already
    # leaked into a prior export's schema — the carry below drops them,
    # healing polluted metadata lineages; older snapshots still resolve
    # their own recorded schema-id) never reach the lake-facing schema
    excl = lake_excluded_columns(t.schema)

    def alloc() -> int:
        next_id[0] += 1
        return next_id[0]

    # ordered union: prior schema's names first (stable order), then new
    # names from the ADDED files' footers in footer order
    named: list[tuple[str, object]] = []
    seen = set(prior_fields) | set(excl)
    footer_sources = adds if prior_fields else sorted(current)
    for p in footer_sources:
        arrow = pq.read_schema(p)
        for i in range(len(arrow)):
            fld = arrow.field(i)
            if fld.name not in seen:
                seen.add(fld.name)
                named.append((fld.name, fld.type))

    fields = [
        dict(f)
        for f in (prior_schema or {}).get("fields", [])
        if f["name"] not in excl
    ]
    if named:
        # two passes so nested element/key ids sit AFTER all new column
        # ids (the Iceberg fresh-schema id assignment rule)
        col_ids = {n: alloc() for n, _ in named}
        for n, at in named:
            fields.append(
                {"id": col_ids[n], "name": n, "required": False,
                 "type": _iceberg_type(at, alloc)}
            )
    if not fields:  # no files at all, first export: declared schema
        for fname, ftype in declared.items():
            fields.append(
                {"id": alloc(), "name": fname, "required": False,
                 "type": _DECL_ICE.get(ftype, "string")}
            )
    data_cols = {f["name"] for f in fields}
    part_cols: list[str] = []
    for p in snap.files:
        for k in _path_partition_values(p):
            if k not in part_cols:
                part_cols.append(k)
    _check_no_mixed_partition_layout(part_cols, snap.files, f"{db}.{name}")
    # partition field-ids are stable the same way: reuse the prior
    # spec's field-id per name, allocate new ones past the prior max
    prior_specs = prior.get("partition-specs", []) if prior else []
    prior_spec = next(
        (
            s
            for s in prior_specs
            if s.get("spec-id") == (prior.get("default-spec-id", 0) if prior else 0)
        ),
        None,
    )
    prior_pf = {f["name"]: f for f in (prior_spec or {}).get("fields", [])}
    next_pid = [
        max(
            [f["field-id"] for s in prior_specs for f in s.get("fields", [])] + [999]
        )
    ]
    part_fields = []
    for c in part_cols:
        ice_t = "long" if c.startswith("__") else _DECL_ICE.get(
            declared.get(c, "STRING"), "string"
        )
        if c not in data_cols:
            fields.append(
                {"id": alloc(), "name": c, "required": False, "type": ice_t}
            )
            data_cols.add(c)
        src = next(f["id"] for f in fields if f["name"] == c)
        if c in prior_pf:
            pid = prior_pf[c]["field-id"]
        else:
            next_pid[0] += 1
            pid = next_pid[0]
        part_fields.append(
            {"name": c, "transform": "identity", "source-id": src,
             "field-id": pid, "_type": ice_t}
        )

    # ---- manifest (full live set + this export's deletes) ----
    def _typed_pvals(path: str) -> dict:
        vals = _path_partition_values(path)
        out = {}
        for pf in part_fields:
            v = vals.get(pf["name"])
            if v is not None and pf["_type"] in ("int", "long"):
                v = int(v)
            elif v is not None and pf["_type"] in ("double", "float"):
                v = float(v)
            out[pf["name"]] = v
        return out

    def _entry(status: int, path: str, snap_id: int, seq_no: int) -> dict:
        return {
            "status": status,
            "snapshot_id": snap_id,
            "sequence_number": seq_no,
            "file_sequence_number": seq_no,
            "data_file": {
                "content": 0,
                "file_path": path,
                "file_format": "PARQUET",
                "partition": _typed_pvals(path),
                "record_count": pq.ParquetFile(path).metadata.num_rows
                if os.path.isfile(path)
                else 0,
                "file_size_in_bytes": os.path.getsize(path)
                if os.path.isfile(path)
                else 0,
            },
        }

    entries = [_entry(_ADDED, p, snapshot_id, seq) for p in adds]
    for p in carried:
        old = live_before[p]
        e = _entry(_EXISTING, p, old["snapshot_id"], old["sequence_number"])
        e["data_file"] = dict(old["data_file"])  # keep original stats
        # re-key the partition struct to THIS export's field set: the
        # avro record encoder requires every declared field present
        old_part = old["data_file"].get("partition", {})
        e["data_file"]["partition"] = {
            pf["name"]: old_part.get(pf["name"]) for pf in part_fields
        }
        entries.append(e)
    for p in removes:
        old = live_before[p]
        e = dict(old)
        e["status"] = _DELETED
        e["snapshot_id"] = snapshot_id
        e["data_file"] = dict(old["data_file"])
        old_part = old["data_file"].get("partition", {})
        e["data_file"]["partition"] = {
            pf["name"]: old_part.get(pf["name"]) for pf in part_fields
        }
        entries.append(e)

    entry_schema = _manifest_entry_schema(part_fields)
    spec_fields_json = [
        {k: v for k, v in pf.items() if not k.startswith("_")} for pf in part_fields
    ]
    # schema/spec versioning: unchanged -> reuse the prior id; changed ->
    # APPEND with a new id (never overwrite schema-id 0 — retained
    # snapshots reference their schema-id, and replacing it would remap
    # columns under them for by-id readers)
    prior_schemas = list(prior.get("schemas", [])) if prior else []
    if prior_schema is not None and prior_schema.get("fields") == fields:
        schema_id = prior_schema["schema-id"]
        schemas_json = prior_schemas
    else:
        schema_id = max([s["schema-id"] for s in prior_schemas] + [-1]) + 1
        schema_json_new = {"type": "struct", "schema-id": schema_id, "fields": fields}
        schemas_json = prior_schemas + [schema_json_new]
    schema_json = {"type": "struct", "schema-id": schema_id, "fields": fields}
    if prior_spec is not None and prior_spec.get("fields") == spec_fields_json:
        spec_id = prior_spec["spec-id"]
        specs_json = list(prior.get("partition-specs", []))
    else:
        spec_id = max([s["spec-id"] for s in prior_specs] + [-1]) + 1
        specs_json = (list(prior.get("partition-specs", [])) if prior else []) + [
            {"spec-id": spec_id, "fields": spec_fields_json}
        ]
    manifest_path = os.path.join(meta_dir, f"{uuid.uuid4()}-m0.avro")
    manifest_len = write_container(
        manifest_path,
        entry_schema,
        entries,
        metadata={
            "schema": json.dumps(schema_json),
            "partition-spec": json.dumps(spec_fields_json),
            "partition-spec-id": str(spec_id),
            "format-version": str(_FORMAT_VERSION),
            "content": "data",
        },
    )

    def _rows(paths):
        return sum(
            e["data_file"]["record_count"]
            for e in entries
            if e["data_file"]["file_path"] in paths
        )

    min_seq = min(
        [e["sequence_number"] for e in entries if e["status"] != _DELETED] + [seq]
    )
    manifest_list_path = os.path.join(
        meta_dir, f"snap-{snapshot_id}-1-{uuid.uuid4()}.avro"
    )
    write_container(
        manifest_list_path,
        _MANIFEST_FILE_SCHEMA,
        [
            {
                "manifest_path": manifest_path,
                "manifest_length": manifest_len,
                "partition_spec_id": spec_id,
                "content": 0,
                "sequence_number": seq,
                "min_sequence_number": min_seq,
                "added_snapshot_id": snapshot_id,
                "added_files_count": len(adds),
                "existing_files_count": len(carried),
                "deleted_files_count": len(removes),
                "added_rows_count": _rows(set(adds)),
                "existing_rows_count": _rows(set(carried)),
                "deleted_rows_count": _rows(set(removes)),
            }
        ],
        metadata={
            "snapshot-id": str(snapshot_id),
            "sequence-number": str(seq),
            "format-version": str(_FORMAT_VERSION),
        },
    )

    snapshot = {
        "snapshot-id": snapshot_id,
        "sequence-number": seq,
        "timestamp-ms": now_ms,
        "manifest-list": manifest_list_path,
        "summary": {
            "operation": "overwrite" if removes else "append",
            "engine-commit": str(snap.snapshot_id),
        },
        "schema-id": schema_id,
    }
    if prior and prior.get("current-snapshot-id", -1) != -1:
        snapshot["parent-snapshot-id"] = prior["current-snapshot-id"]

    version = prior_version + 1
    meta = {
        "format-version": _FORMAT_VERSION,
        "table-uuid": prior["table-uuid"]
        if prior
        else str(uuid.uuid5(uuid.NAMESPACE_URL, f"fluss://{db}/{name}")),
        "location": os.path.abspath(target_dir),
        "last-sequence-number": seq,
        "last-updated-ms": now_ms,
        "last-column-id": next_id[0],
        "current-schema-id": schema_id,
        "schemas": schemas_json,
        "default-spec-id": spec_id,
        "partition-specs": specs_json,
        "last-partition-id": max(
            [f["field-id"] for s in specs_json for f in s.get("fields", [])] + [999]
        ),
        "default-sort-order-id": 0,
        "sort-orders": [{"order-id": 0, "fields": []}],
        "properties": {"write.format.default": "parquet"},
        "current-snapshot-id": snapshot_id,
        "snapshots": (prior.get("snapshots", []) if prior else []) + [snapshot],
        "snapshot-log": (prior.get("snapshot-log", []) if prior else [])
        + [{"timestamp-ms": now_ms, "snapshot-id": snapshot_id}],
        "metadata-log": (prior.get("metadata-log", []) if prior else [])
        + (
            [
                {
                    "timestamp-ms": prior["last-updated-ms"],
                    "metadata-file": os.path.join(
                        meta_dir, f"v{prior_version}.metadata.json"
                    ),
                }
            ]
            if prior
            else []
        ),
    }
    meta_path = os.path.join(meta_dir, f"v{version}.metadata.json")
    fsops.write_atomic(meta_path, json.dumps(meta, indent=1))
    fsops.write_atomic(os.path.join(meta_dir, "version-hint.text"), str(version))
    return IcebergExport(version, meta_path, snapshot_id, len(adds), len(removes))


# --------------------------------------------------------------------- #
# read-back (the union-read side; also what the replay tests drive)
# --------------------------------------------------------------------- #
@dataclass
class IcebergSnapshot:
    version: int
    snapshot_id: int
    schema: dict
    partition_fields: list[dict]
    entries: list[dict]  # live manifest entries


def read_iceberg_snapshot(
    target_dir: str, snapshot_id: int | None = None
) -> IcebergSnapshot:
    """Resolve a snapshot through the HadoopTableOperations layout:
    version-hint.text -> vN.metadata.json -> manifest list -> manifests
    -> live data-file entries. `snapshot_id` time-travels to any
    retained snapshot (Iceberg VERSION AS OF semantics) — each export's
    manifest list is self-contained, so an older snapshot replays
    exactly its own file set even after later compactions."""
    meta_dir = os.path.join(target_dir, "metadata")
    version = _read_version_hint(meta_dir)
    if version == 0:
        raise FileNotFoundError(f"no iceberg metadata under {meta_dir}")
    meta = _load_metadata(meta_dir, version)
    if snapshot_id is not None:
        if not any(
            s["snapshot-id"] == snapshot_id for s in meta.get("snapshots", [])
        ):
            raise ValueError(f"no such snapshot-id: {snapshot_id}")
        meta = dict(meta)
        meta["current-snapshot-id"] = snapshot_id
    live = _live_entries(meta, meta_dir)
    # resolve by ID, not list position: schemas/specs are APPENDED on
    # change, and a time-travelled snapshot reads under ITS schema-id
    snap_rec = next(
        (
            s
            for s in meta.get("snapshots", [])
            if s["snapshot-id"] == meta["current-snapshot-id"]
        ),
        None,
    )
    schema_id = (
        snap_rec.get("schema-id", meta["current-schema-id"])
        if snap_rec
        else meta["current-schema-id"]
    )
    schema = next(s for s in meta["schemas"] if s["schema-id"] == schema_id)
    # the partition spec is per-SNAPSHOT too: specs are appended with new
    # spec-ids on change, and a time-travelled snapshot taken before a
    # spec change must project ITS partition fields, not the table-level
    # default. The snapshot's manifest-list entries record the
    # partition_spec_id they were written under (the spec's
    # manifest_file field-id 502); fall back to the default only when
    # the recorded id is absent (pre-fix metadata).
    spec_id = meta["default-spec-id"]
    if snap_rec is not None:
        _, manifests, _ = read_container(snap_rec["manifest-list"])
        ids = {m.get("partition_spec_id") for m in manifests} - {None}
        if len(ids) == 1 and any(
            s["spec-id"] == next(iter(ids)) for s in meta["partition-specs"]
        ):
            spec_id = next(iter(ids))
    spec = next(
        s for s in meta["partition-specs"] if s["spec-id"] == spec_id
    )
    return IcebergSnapshot(
        version=version,
        snapshot_id=meta["current-snapshot-id"],
        schema=schema,
        partition_fields=spec["fields"],
        entries=list(live.values()),
    )


def _spark_datatype(ice_type):
    """Iceberg schema-JSON type -> Spark DataType (for the explicit
    read schema: files written before an ADD COLUMN surface NULLs, and
    file column ORDER stops mattering)."""
    from pyspark.sql import types as T

    if isinstance(ice_type, dict):
        if ice_type["type"] == "list":
            return T.ArrayType(_spark_datatype(ice_type["element"]))
        if ice_type["type"] == "struct":
            return T.StructType(
                [
                    T.StructField(f["name"], _spark_datatype(f["type"]), True)
                    for f in ice_type["fields"]
                ]
            )
        if ice_type["type"] == "map":
            return T.MapType(
                _spark_datatype(ice_type["key"]), _spark_datatype(ice_type["value"])
            )
        raise ValueError(f"unsupported iceberg type: {ice_type}")
    prim = {
        "boolean": T.BooleanType(),
        "int": T.IntegerType(),
        "long": T.LongType(),
        "float": T.FloatType(),
        "double": T.DoubleType(),
        "date": T.DateType(),
        "timestamp": T.TimestampNTZType(),
        "timestamptz": T.TimestampType(),
        "string": T.StringType(),
        "binary": T.BinaryType(),
    }
    if ice_type in prim:
        return prim[ice_type]
    if ice_type.startswith("decimal"):
        p, s = ice_type[ice_type.index("(") + 1 : ice_type.index(")")].split(",")
        return T.DecimalType(int(p), int(s))
    return T.StringType()


def read_iceberg_table(spark, target_dir: str, snapshot_id: int | None = None):
    """Union-read an exported snapshot back as a DataFrame, projecting
    the identity partition columns from manifest metadata (they are
    omitted from the data files). `snapshot_id` time-travels.

    Scale shape: ONE distributed parquet scan over all live files plus
    a broadcast join of the manifest's (file -> partition values)
    mapping on input_file_name() — plan size and scan count stay O(1)
    in the table's partition count (a per-partition union would build a
    P-way plan and P scans). The scan uses the EXPORTED schema
    explicitly, so files written before an ADD COLUMN surface NULLs for
    it instead of the first-listed file's footer deciding the columns."""
    import urllib.parse

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    ice = read_iceberg_snapshot(target_dir, snapshot_id=snapshot_id)
    if not ice.entries:
        raise ValueError(f"{target_dir}: snapshot has no live files")
    by_type = {f["id"]: f["type"] for f in ice.schema["fields"]}
    part_names = [pf["name"] for pf in ice.partition_fields]
    part_types = {
        pf["name"]: _SPARK_READ_T.get(by_type.get(pf["source-id"], "string"), "string")
        for pf in ice.partition_fields
    }
    paths = [e["data_file"]["file_path"] for e in ice.entries]
    read_schema = T.StructType(
        [
            T.StructField(f["name"], _spark_datatype(f["type"]), True)
            for f in ice.schema["fields"]
            if f["name"] not in part_names  # projected from manifests below
        ]
    )
    df = spark.read.schema(read_schema).parquet(*paths)
    if not part_names:
        return df
    # input_file_name() yields the Hadoop-Path URI form: file://<path>
    # with spaces %-encoded but '=' (hive partition segments) kept raw
    rows = [
        tuple(
            ["file://" + urllib.parse.quote(os.path.abspath(p), safe="/=")]
            + [
                None if v is None else str(v)
                for v in (
                    e["data_file"]["partition"].get(c) for c in part_names
                )
            ]
        )
        for p, e in ((e["data_file"]["file_path"], e) for e in ice.entries)
    ]
    mapping = spark.createDataFrame(
        rows, ["__file"] + [f"__p_{c}" for c in part_names]
    ).withColumn("__m", F.lit(1))
    # LEFT join + a lazy error woven into the projected partition
    # values: an URI-form drift between input_file_name() and the
    # constructed key must surface as an error on read, never as
    # silently dropped rows (inner join) or silently-null partition
    # values
    out = df.withColumn("__file", F.input_file_name()).join(
        F.broadcast(mapping), "__file", "left"
    )
    for c in part_names:
        val = F.when(
            F.col("__m").isNotNull(), F.col(f"__p_{c}")
        ).otherwise(
            F.raise_error(
                F.concat(
                    F.lit("iceberg read-back: scanned file missing from the "
                          "manifest mapping (URI-form drift): "),
                    F.col("__file"),
                )
            )
        )
        out = out.withColumn(c, val.cast(part_types[c])).drop(f"__p_{c}")
    return out.drop("__file", "__m")
