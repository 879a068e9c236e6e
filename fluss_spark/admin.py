"""Admin facade — 1:1 surface of the reference's admin client
(fluss-client/src/main/java/org/apache/fluss/client/admin/Admin.java:140-552):
database/table DDL, table info, offsets, snapshot listing. A user of the
reference's Admin maps each call directly onto this class.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import SparkSession

from fluss_spark import fsops
from fluss_spark.catalog import Catalog, DatabaseNotFoundError, TableNotFoundError
from fluss_spark.table import FlussTable, create_table
from fluss_spark.types import Field, TableSchema


@dataclass
class KvSnapshotInfo:
    snapshot_id: int
    log_offsets: dict[int, int]  # changelog position the snapshot covers


@dataclass
class KvSnapshotMetadata:
    """Admin.getKvSnapshotMetadata (Admin.java:450): the file set one
    snapshot version references — what an external engine reads for a
    consistent snapshot + the changelog offsets to resume from."""

    snapshot_id: int
    # manifest units -> data dir: {bucket: dir} for unpartitioned pk
    # tables, {(partition path, bucket): dir} for partitioned ones (the
    # reference's TableBucket granularity)
    bucket_dirs: dict
    files: list[str]  # parquet files, relative to the snapshot root
    log_offsets: dict[int, int]


@dataclass
class LakeSnapshot:
    """Admin.getLatestLakeSnapshot (Admin.java:485-529): a commit-pinned
    file set any external Parquet reader can scan for a consistent view
    of the table — the log IS the lake here, so no tiering copy exists
    and the "lake snapshot" is simply the committed file listing.
    Catalog metadata over the listing: Delta (export_delta_log) and
    Iceberg (export_iceberg_metadata); Paimon/Hudi remain documented
    divergences (README)."""

    snapshot_id: int  # the commit version the listing is pinned to
    table_bucket_offsets: dict[int, int]  # bucket -> next offset to resume
    files: list[str]  # absolute parquet paths (log tiers, or pk snapshot)
    # lake-catalog interop over this listing: export_delta_log (Delta
    # transaction log) and export_iceberg_metadata (Iceberg v2
    # metadata + Avro manifests) both reference these files in place


@dataclass
class DeltaExport:
    """Result of Admin.export_delta_log: one appended Delta commit."""

    version: int  # delta log version written
    log_path: str  # the NNNN.json commit file
    n_add: int
    n_remove: int


@dataclass
class KvSnapshotLeaseInfo:
    """Admin.createKvSnapshotLease (Admin.java:460): a pinned snapshot."""

    lease_id: str
    snapshot_id: int
    expires_ms: int


@dataclass
class PartitionInfo:
    """Admin.listPartitionInfos (Admin.java:325): one partition's spec.
    Single-level time partitioning (like the reference's auto-partition
    tables), so the spec is {partition_key: value}."""

    spec: dict[str, str]


@dataclass
class TableStats:
    """Admin.getTableStats (Admin.java:563): size/row metadata served
    from commit state + file listings — no Spark job, no file reads."""

    num_rows: int  # exact, from offset watermarks (A1 metadata count)
    size_bytes: int
    num_files: int


@dataclass
class DatabaseInfo:
    """Admin.getDatabaseInfo (Admin.java:172)."""

    name: str
    comment: str | None
    properties: dict[str, str]


@dataclass
class DatabaseSummary:
    """Admin.listDatabaseSummaries (Admin.java:217)."""

    name: str
    table_count: int


# -- ALTER TABLE change kinds (metadata/TableChange.java:28-131) ----------


@dataclass
class AddColumn:
    """TableChange.addColumn (TableChange.java:41-60): appended LAST;
    always nullable (pre-existing rows read as NULL). `agg` = per-column
    aggregation function for AGGREGATION merge-engine tables."""

    name: str
    type: str
    agg: str | None = None


@dataclass
class DropColumn:
    """TableChange.dropColumn (TableChange.java:123): key columns
    (pk/bucket/partition) cannot be dropped."""

    name: str


@dataclass
class RenameColumn:
    """TableChange.modifyColumnName equivalent: the field keeps its
    field ID; files written before the rename keep the old physical
    column name and every read resolves it by ID (era mapping in
    LogStore.scan / KvStore.snapshot). No file rewrite."""

    name: str
    new_name: str


@dataclass
class AlterColumnType:
    """TableChange.modifyPhysicalColumnType equivalent: only lossless
    widenings (tinyint->smallint->int->bigint, float->double, decimal
    precision growth at equal scale). Old files keep the old physical
    type; reads cast by field ID."""

    name: str
    new_type: str


@dataclass
class SetOption:
    """TableChange.set (TableChange.java:127)."""

    key: str
    value: str


@dataclass
class ResetOption:
    """TableChange.reset (TableChange.java:131)."""

    key: str


class InvalidAlterTableException(ValueError):
    """Mirror of common/exception/InvalidAlterTableException: the change
    is structurally unsupported (immutable option, key column drop, …)."""


# options that define the table's physical/merge identity — immutable
# after creation (the reference validates the same set server-side)
_IMMUTABLE_OPTIONS = (
    "table.merge-engine",
    "table.merge-engine.versioned.ver-column",
    "table.changelog.image",
    # internal bookkeeping, maintained by the alter path itself
    "schema.retired-columns",
    "schema.evolution",
    "schema.id",
    "schema.max-field-id",
)

_SORT_COLS_PROP = "table.log.compaction.sort-columns"


def _update_sort_columns(props: dict, old: str, new: str | None) -> None:
    """Keep the clustered-compaction column list in sync with renames
    (new=name) and drops (new=None) so compact_log never chases a
    stale column name."""
    raw = props.get(_SORT_COLS_PROP)
    if not raw:
        return
    cols = [c.strip() for c in raw.split(",")]
    cols = [new if c == old else c for c in cols]
    cols = [c for c in cols if c is not None]
    if cols:
        props[_SORT_COLS_PROP] = ",".join(cols)
    else:
        props.pop(_SORT_COLS_PROP, None)


class Admin:
    def __init__(self, catalog: Catalog):
        self.catalog = catalog

    # -- databases (Admin.createDatabase/listDatabases/dropDatabase) ------
    def create_database(
        self,
        db: str,
        ignore_if_exists: bool = True,
        comment: str | None = None,
        properties: dict[str, str] | None = None,
    ) -> None:
        existed = db in self.catalog.list_databases()
        self.catalog.create_database(db, ignore_if_exists)
        # an existing database's info is NOT overwritten by an
        # ignore_if_exists re-create — the whole call is a no-op then
        if not existed and (comment is not None or properties):
            self._write_dbinfo(db, comment, properties or {})

    def _dbinfo_path(self, db: str) -> str:
        import os

        return os.path.join(self.catalog.warehouse, db, ".dbinfo.json")

    def _write_dbinfo(self, db: str, comment: str | None, properties: dict[str, str]) -> None:
        import json

        fsops.write_atomic(
            self._dbinfo_path(db), json.dumps({"comment": comment, "properties": properties})
        )

    def get_database_info(self, db: str) -> DatabaseInfo:
        """Admin.getDatabaseInfo (Admin.java:172)."""
        import json
        import os

        if db not in self.catalog.list_databases():
            raise DatabaseNotFoundError(db)
        comment, props = None, {}
        p = self._dbinfo_path(db)
        if os.path.exists(p):
            with open(p) as f:
                d = json.load(f)
            comment, props = d.get("comment"), d.get("properties", {})
        return DatabaseInfo(name=db, comment=comment, properties=props)

    def alter_database(self, db: str, properties: dict[str, str]) -> DatabaseInfo:
        """Admin.alterDatabase (Admin.java:158): merge property updates
        (a None value removes the key)."""
        info = self.get_database_info(db)
        props = dict(info.properties)
        for k, v in properties.items():
            if v is None:
                props.pop(k, None)
            else:
                props[k] = v
        self._write_dbinfo(db, info.comment, props)
        return DatabaseInfo(name=db, comment=info.comment, properties=props)

    def list_databases(self) -> list[str]:
        return self.catalog.list_databases()

    def list_database_summaries(self) -> list[DatabaseSummary]:
        """Admin.listDatabaseSummaries (Admin.java:217)."""
        return [
            DatabaseSummary(name=db, table_count=len(self.catalog.list_tables(db)))
            for db in self.catalog.list_databases()
        ]

    def database_exists(self, db: str) -> bool:
        return db in self.catalog.list_databases()

    def drop_database(self, db: str) -> None:
        self.catalog.drop_database(db)

    # -- tables (Admin.createTable/getTableInfo/listTables/dropTable) -----
    def create_table(self, db: str, name: str, schema: TableSchema, ignore_if_exists: bool = False) -> FlussTable:
        return create_table(self.catalog, db, name, schema, if_not_exists=ignore_if_exists)

    def get_table_info(self, db: str, name: str, schema_id: int | None = None) -> TableSchema:
        """Current schema, or a historical one by id
        (Admin.getTableSchema(tablePath, schemaId), Admin.java:106-120 —
        each alter archives the outgoing schema under its id)."""
        current = self.catalog.get_schema(db, name)
        current_id = int(current.properties.get("schema.id", "0"))
        if schema_id is None or schema_id == current_id:
            return current
        import os

        p = os.path.join(self.catalog.table_dir(db, name), "meta", f"schema-v{schema_id}.json")
        if not os.path.exists(p):
            raise ValueError(f"no such schema id: {schema_id} (current: {current_id})")
        with open(p) as f:
            return TableSchema.from_json(f.read())

    def list_tables(self, db: str) -> list[str]:
        return self.catalog.list_tables(db)

    def table_exists(self, db: str, name: str) -> bool:
        return self.catalog.table_exists(db, name)

    def drop_table(self, db: str, name: str) -> None:
        self.catalog.drop_table(db, name)

    def rebucket_table(self, db: str, name: str, new_buckets: int, spark) -> int:
        """Change the table's bucket count (one-shot rewrite; streaming
        subscriptions fence on the bucket epoch). The parallelism lever
        the reference lacks — its bucket.num is immutable at creation.
        See maintenance.rebucket_table for the full contract."""
        from fluss_spark import maintenance

        return maintenance.rebucket_table(FlussTable(self.catalog, db, name), spark, new_buckets)

    def alter_table(
        self,
        db: str,
        name: str,
        changes: list[AddColumn | DropColumn | SetOption | ResetOption],
        ignore_if_not_exists: bool = False,
    ) -> TableSchema | None:
        """Admin.alterTable (Admin.java:310): apply schema/option changes
        atomically under the table write lock.

        Evolution is NAME-based over Parquet, which makes add/drop free:
        files written before an AddColumn simply lack the column (the
        explicit read schema surfaces NULLs), and files written before a
        DropColumn carry an extra column every later read ignores. No
        file rewrite, ever — the same property the reference gets from
        field-ID indirection (Schema.java:223).

        RenameColumn / AlterColumnType (widening) resolve by field ID:
        the alter appends an era record (`schema.evolution` property)
        snapshotting the pre-alter {id, name, type} mapping together
        with the last commit version written under it; readers map each
        commit/snapshot dir to its era and project old physical columns
        onto the current schema (alias + widening cast). Tables that
        never rename/retype have no era records and keep their exact
        single-scan plans. Restrictions (each guards a physical
        invariant, not a convenience): partition keys can't be renamed
        or retyped (the name/value is baked into partition dir paths);
        bucket keys can't be retyped (Murmur3 hashes int and bigint
        differently — old rows would sit in the wrong bucket);
        auto-increment columns can't be renamed (the table counter in
        CommitState is keyed by name); retypes must be widenings.

        Open Table/FlussTable handles keep their creation-time schema
        (exactly like the reference's clients, which cache SchemaInfo);
        re-open the table to observe the new schema."""
        if not self.catalog.table_exists(db, name):
            if ignore_if_not_exists:
                return None
            raise TableNotFoundError(f"{db}.{name}")
        import json as _json

        from fluss_spark.types import EVOLUTION_PROP, is_widening, parse_type, type_name

        with self.catalog.write_lock(db, name):
            schema = self.catalog.get_schema(db, name)
            fields = list(schema.fields)
            props = dict(schema.properties)
            if "materialized-table.definition-query" in props and any(
                isinstance(c, (AddColumn, DropColumn, RenameColumn, AlterColumnType))
                for c in changes
            ):
                # an MT's schema is DERIVED from its definition query
                # (ddl.md "Schema Definition": "You cannot manually
                # specify column names and types") — a column alter
                # would silently diverge from what the next refresh
                # writes. Option changes remain allowed.
                raise InvalidAlterTableException(
                    f"{db}.{name} is a materialized table: its columns are "
                    "inferred from the definition query and cannot be "
                    "altered (SET/RESET options are allowed)"
                )
            primary_key = list(schema.primary_key)
            bucket_keys = list(schema.bucket_keys)
            protected = set(
                schema.primary_key + schema.bucket_keys + schema.partition_keys
            )
            retired = set(
                n for n in props.get("schema.retired-columns", "").split(",") if n
            )
            # era snapshot of the PRE-alter physical mapping; appended to
            # schema.evolution only if this alter renames or retypes
            pre_era = {
                "until": self.catalog.current_commit(db, name).version,
                "fields": [
                    {"id": f.field_id, "name": f.name, "type": type_name(parse_type(f.type))}
                    for f in fields
                ],
            }
            needs_era = False
            # field ids are NEVER reused, even after DropColumn frees the
            # highest id: era records resolve columns BY id, so a reused
            # id would resurrect the dropped column's values from
            # old-era files into the new column. The high-water mark
            # persists in schema.max-field-id (monotone).
            next_id = max(
                int(props.get("schema.max-field-id", "-1")),
                max((f.field_id for f in fields), default=-1),
            ) + 1
            for ch in changes:
                if isinstance(ch, AddColumn):
                    if any(f.name == ch.name for f in fields):
                        raise InvalidAlterTableException(f"column exists: {ch.name}")
                    if ch.name in retired:
                        # reads are NAME-based over Parquet: re-adding a
                        # dropped name would resurrect the old column's
                        # values from pre-drop files (or fail the scan on
                        # a type change) instead of reading NULL. The
                        # reference disambiguates via field IDs; until
                        # reads resolve by ID, the name stays retired.
                        raise InvalidAlterTableException(
                            f"column name was previously dropped and old data "
                            f"files still carry it: {ch.name} (use a new name)"
                        )
                    fields.append(
                        Field(ch.name, ch.type, nullable=True, field_id=next_id, agg=ch.agg)
                    )
                    next_id += 1
                elif isinstance(ch, DropColumn):
                    if not any(f.name == ch.name for f in fields):
                        raise InvalidAlterTableException(f"no such column: {ch.name}")
                    if ch.name in protected:
                        raise InvalidAlterTableException(
                            f"cannot drop key column: {ch.name}"
                        )
                    if props.get("table.merge-engine.versioned.ver-column") == ch.name:
                        raise InvalidAlterTableException(
                            f"cannot drop the versioned merge column: {ch.name}"
                        )
                    fields = [f for f in fields if f.name != ch.name]
                    retired.add(ch.name)
                    props["schema.retired-columns"] = ",".join(sorted(retired))
                    _update_sort_columns(props, ch.name, None)
                elif isinstance(ch, RenameColumn):
                    src = next((f for f in fields if f.name == ch.name), None)
                    if src is None:
                        raise InvalidAlterTableException(f"no such column: {ch.name}")
                    if any(f.name == ch.new_name for f in fields):
                        raise InvalidAlterTableException(f"column exists: {ch.new_name}")
                    if ch.new_name in retired:
                        raise InvalidAlterTableException(
                            f"column name was previously dropped and old data "
                            f"files still carry it: {ch.new_name} (use a new name)"
                        )
                    if ch.name in schema.partition_keys:
                        raise InvalidAlterTableException(
                            f"cannot rename partition key (name is baked into "
                            f"partition dir paths): {ch.name}"
                        )
                    if src.auto_increment:
                        raise InvalidAlterTableException(
                            f"cannot rename auto-increment column (table counter "
                            f"is keyed by name): {ch.name}"
                        )
                    fields = [
                        Field(
                            ch.new_name, f.type, f.nullable, f.field_id, f.agg,
                            f.auto_increment,
                        )
                        if f.name == ch.name
                        else f
                        for f in fields
                    ]
                    primary_key = [ch.new_name if c == ch.name else c for c in primary_key]
                    bucket_keys = [ch.new_name if c == ch.name else c for c in bucket_keys]
                    if props.get("table.merge-engine.versioned.ver-column") == ch.name:
                        props["table.merge-engine.versioned.ver-column"] = ch.new_name
                    # old physical name still lives in old files: retire it
                    retired.add(ch.name)
                    props["schema.retired-columns"] = ",".join(sorted(retired))
                    _update_sort_columns(props, ch.name, ch.new_name)
                    protected = set(primary_key + bucket_keys + schema.partition_keys)
                    needs_era = True
                elif isinstance(ch, AlterColumnType):
                    src = next((f for f in fields if f.name == ch.name), None)
                    if src is None:
                        raise InvalidAlterTableException(f"no such column: {ch.name}")
                    if ch.name in bucket_keys:
                        raise InvalidAlterTableException(
                            f"cannot retype bucket key (hash routing depends on "
                            f"the physical type): {ch.name}"
                        )
                    if ch.name in schema.partition_keys:
                        raise InvalidAlterTableException(
                            f"cannot retype partition key (values are baked into "
                            f"partition dir paths): {ch.name}"
                        )
                    if not is_widening(src.type, ch.new_type):
                        raise InvalidAlterTableException(
                            f"only lossless widenings are allowed: "
                            f"{src.type} -> {ch.new_type}"
                        )
                    fields = [
                        Field(
                            f.name, ch.new_type, f.nullable, f.field_id, f.agg,
                            f.auto_increment,
                        )
                        if f.name == ch.name
                        else f
                        for f in fields
                    ]
                    needs_era = True
                elif isinstance(ch, SetOption):
                    if ch.key in _IMMUTABLE_OPTIONS:
                        raise InvalidAlterTableException(
                            f"option is immutable after creation: {ch.key}"
                        )
                    if ch.key == _SORT_COLS_PROP:
                        names = {f.name for f in fields}
                        bad = [
                            c.strip() for c in ch.value.split(",") if c.strip() not in names
                        ]
                        if bad:
                            raise InvalidAlterTableException(
                                f"unknown sort column(s): {bad}"
                            )
                    if ch.key == "table.log.tiered.local-segments":
                        # validated HERE so the append path never raises
                        # AFTER its commit succeeded (auto-tiering runs
                        # post-publish)
                        try:
                            ok = int(ch.value) >= 1
                        except ValueError:
                            ok = False
                        if not ok:
                            raise InvalidAlterTableException(
                                "table.log.tiered.local-segments must be an "
                                f"integer >= 1, got {ch.value!r}"
                            )
                    props[ch.key] = ch.value
                elif isinstance(ch, ResetOption):
                    if ch.key in _IMMUTABLE_OPTIONS:
                        raise InvalidAlterTableException(
                            f"option is immutable after creation: {ch.key}"
                        )
                    props.pop(ch.key, None)
                else:
                    raise InvalidAlterTableException(f"unsupported change: {ch!r}")
            if needs_era:
                from fluss_spark.types import evolution_eras

                eras = evolution_eras(schema) + [pre_era]
                props[EVOLUTION_PROP] = _json.dumps(eras)
            # schema history (Admin.getTableSchema(path, schemaId),
            # Admin.java:120): every alter archives the outgoing schema
            # under its id and bumps schema.id
            import os as _os

            old_id = int(schema.properties.get("schema.id", "0"))
            fsops.write_atomic(
                _os.path.join(
                    self.catalog.table_dir(db, name), "meta", f"schema-v{old_id}.json"
                ),
                schema.to_json(),
            )
            props["schema.id"] = str(old_id + 1)
            props["schema.max-field-id"] = str(next_id - 1)
            new_schema = TableSchema(
                fields=fields,
                primary_key=primary_key,
                bucket_keys=bucket_keys,
                num_buckets=schema.num_buckets,
                partition_keys=list(schema.partition_keys),
                properties=props,
            )
            self.catalog.set_schema(db, name, new_schema)
            return new_schema

    # -- partitions (Admin.listPartitionInfos/createPartition/dropPartition)
    def _partitioned_table(self, db: str, name: str) -> FlussTable:
        t = FlussTable(self.catalog, db, name)
        if not t.schema.partition_keys:
            raise ValueError(f"{db}.{name} is not a partitioned table")
        return t

    def list_partitions(
        self, db: str, name: str, partial_spec: dict[str, str] | None = None
    ) -> list[PartitionInfo]:
        """Admin.listPartitionInfos (Admin.java:325-342): registered
        (pre-created) ∪ materialized (written) partitions, optionally
        filtered by a partial spec."""
        from fluss_spark import maintenance

        t = self._partitioned_table(db, name)
        key = t.schema.partition_keys[0]
        values = sorted(
            set(maintenance.registered_partitions(t))
            | maintenance.materialized_partitions(t)
        )
        if partial_spec:
            if set(partial_spec) - {key}:
                raise ValueError(f"unknown partition key in spec: {partial_spec}")
            values = [v for v in values if partial_spec.get(key, v) == v]
        return [PartitionInfo(spec={key: v}) for v in values]

    def create_partition(
        self, db: str, name: str, spec: dict[str, str], ignore_if_exists: bool = True
    ) -> None:
        """Admin.createPartition (Admin.java:368): register the value in
        the partition metadata (dirs materialize on first write — the
        same pre-create model auto_partition uses)."""
        import json

        from fluss_spark import maintenance

        t = self._partitioned_table(db, name)
        key = t.schema.partition_keys[0]
        if set(spec) != {key}:
            raise ValueError(f"partition spec must be exactly {{{key!r}: value}}, got {spec}")
        with self.catalog.write_lock(db, name):
            active = maintenance.registered_partitions(t)
            if spec[key] in active:
                if ignore_if_exists:
                    return
                raise ValueError(f"partition exists: {spec}")
            fsops.write_atomic(
                maintenance.partitions_meta_path(t),
                json.dumps({"active": sorted(active + [spec[key]])}),
            )

    def drop_partition(
        self,
        db: str,
        name: str,
        spec: dict[str, str],
        ignore_if_not_exists: bool = True,
        spark: SparkSession | None = None,
    ) -> None:
        """Admin.dropPartition (Admin.java:390): unregister AND delete the
        partition's data dirs from every commit dir in both tiers.

        On a partitioned PRIMARY KEY table the snapshot stores partition
        values as data columns (snapshot dirs partition only by bucket),
        so dropping log dirs alone would leave the rows alive in the
        snapshot while their WAL is gone. A pk-table drop therefore
        first runs an engine DELETE of the partition's rows (changelog
        -D + snapshot rewrite — needs `spark`), then removes the log
        dirs, which also erases the delete events themselves (the same
        end state TTL expiry produces)."""
        import json

        from pyspark.sql import functions as F

        from fluss_spark import maintenance

        t = self._partitioned_table(db, name)
        key = t.schema.partition_keys[0]
        if set(spec) != {key}:
            raise ValueError(f"partition spec must be exactly {{{key!r}: value}}, got {spec}")
        if t.kv is not None and spark is None:
            raise ValueError(
                "dropPartition on a primary-key table rewrites the snapshot "
                "(rows live there keyed by data columns) — pass spark="
            )
        val = spec[key]
        if t.kv is not None and val in maintenance.materialized_partitions(t):
            # outside the lock: delete_where takes the write lock itself
            maintenance.delete_partition_rows(t, spark, F.col(key) == F.lit(val))
        with self.catalog.write_lock(db, name):
            active = maintenance.registered_partitions(t)
            known = set(active) | maintenance.materialized_partitions(t)
            if val not in known:
                if ignore_if_not_exists:
                    return
                raise ValueError(f"no such partition: {spec}")
            fsops.write_atomic(
                maintenance.partitions_meta_path(t),
                json.dumps({"active": [v for v in active if v != val]}),
            )
            maintenance.drop_partition_dirs(t, [val])

    # -- stats (Admin.getTableStats) --------------------------------------
    def get_table_stats(self, db: str, name: str) -> TableStats:
        """Admin.getTableStats (Admin.java:563): exact live row count +
        file count/bytes from a driver-side walk (log both tiers + the
        current snapshot's referenced dirs). Row count sources: offset
        watermarks (the A1 metadata path) for unpartitioned log tables;
        Parquet footers over surviving committed files for PARTITIONED
        log tables (partition drops delete dirs without rebasing
        offsets, so watermarks would over-count); snapshot-manifest
        footers for pk tables."""
        import os

        import pyarrow.parquet as pq

        t = FlussTable(self.catalog, db, name)
        state = self.catalog.current_commit(db, name)
        size, files, log_footer_rows = 0, 0, 0
        # committed log dirs only: the catalog's fences (floors, CURRENT,
        # LOCAL WINS on a crashed tier_log overlap) as scan() reads them
        local, remote = t.log.committed_dirs()
        log_roots = set(local.values()) | set(remote.values())
        roots = sorted(log_roots)
        if t.kv is not None and state.snapshot_version >= 0:
            roots += [
                os.path.join(t.kv.snapshot_dir, d)
                for d in sorted(t.kv.referenced_data_dirs(state.snapshot_version))
            ]
        count_footers = t.kv is None and bool(t.schema.partition_keys)
        for root in roots:
            for dirpath, _dirs, names in os.walk(root):
                for fn in names:
                    if fn.endswith(".parquet"):
                        full = os.path.join(dirpath, fn)
                        files += 1
                        size += os.path.getsize(full)
                        if count_footers and root in log_roots:
                            log_footer_rows += pq.read_metadata(full).num_rows
        if t.kv is None:
            if t.schema.partition_keys:
                # offset watermarks over-count once a partition is
                # dropped (drop_partition/auto_partition delete dirs
                # without rebasing offsets) — sum Parquet footers of the
                # SURVIVING files instead: still metadata-only, and it
                # equals what scan() returns.
                num_rows = log_footer_rows
            else:
                num_rows = t.count()  # offset watermarks: exact here
        else:
            # PK table: live rows = the current snapshot. The manifest
            # maps bucket -> data dir and each dir partitions by
            # __bucket, so summing Parquet-footer row counts of exactly
            # the manifest's (bucket, dir) pairs is exact and
            # metadata-only (a dir's OTHER buckets may be superseded by
            # newer dirs and must not be counted).
            num_rows = 0
            manifest = t.kv._manifest(state.snapshot_version) or {}
            for bdir in t.kv.manifest_unit_paths(manifest) or []:
                for fn in os.listdir(bdir):
                    if fn.endswith(".parquet"):
                        num_rows += pq.read_metadata(os.path.join(bdir, fn)).num_rows
        return TableStats(num_rows=num_rows, size_bytes=size, num_files=files)

    # -- lake snapshot (Admin.getLatestLakeSnapshot) ----------------------
    def get_latest_lake_snapshot(self, db: str, name: str) -> LakeSnapshot:
        """Admin.getLatestLakeSnapshot (Admin.java:485-529): the latest
        consistent file set + resume offsets. For a pk table this is the
        current KV snapshot's manifest files; for a log table, every
        committed log file across both tiers. Hand `files` to any engine
        that reads Parquet; resume streaming from
        `table_bucket_offsets` (the reference returns exactly this pair:
        snapshot id + per-bucket end offsets)."""
        import os

        t = FlussTable(self.catalog, db, name)
        state = self.catalog.current_commit(db, name)
        offsets = {int(b): o for b, o in state.log_hwm.items()}
        files: list[str] = []
        if t.kv is not None:
            if state.snapshot_version < 0:
                return LakeSnapshot(-1, offsets, [])
            meta = self.get_kv_snapshot_metadata(db, name, state.snapshot_version)
            return LakeSnapshot(
                state.snapshot_version,
                meta.log_offsets,
                [os.path.join(t.kv.snapshot_dir, f) for f in meta.files],
            )
        # committed_dirs applies the shared fencing invariant: floor <=
        # v <= current, uncommitted staging never listed, LOCAL WINS on
        # the crashed-tier_log overlap (listing both copies would
        # double-count the commit's rows)
        local, remote = t.log.committed_dirs()
        for _n, path in sorted(remote.items()) + sorted(local.items()):
            for dirpath, _dirs, names in os.walk(path):
                for fn in sorted(names):
                    if fn.endswith(".parquet"):
                        files.append(os.path.join(dirpath, fn))
        return LakeSnapshot(state.version, offsets, files)

    # -- lake-format interop: Delta Lake transaction-log export -----------
    def export_delta_log(self, db: str, name: str, target_dir: str) -> DeltaExport:
        """Mirror the current lake snapshot into a Delta Lake
        transaction log an EXTERNAL Delta reader can open — the
        fluss-lake tiering parity surface (`Admin.getLatestLakeSnapshot`,
        Admin.java:485-529, feeds paimon/iceberg/hudi catalogs in the
        reference). Delta is the one open table format whose log is
        pure JSON, so the export needs no format library: each call
        appends ONE Delta commit containing `add` actions for files new
        since the last export and `remove` actions for files that left
        the snapshot (compaction/TTL/rebucket), i.e. incremental
        mirroring, not a full rewrite. Data files are referenced in
        place by absolute file: URI (the spec's escape hatch for
        shallow/external tables) — nothing is copied, so re-export
        after a 100-TB compaction writes kilobytes of JSON.

        The exported snapshot is commit-pinned and crash-consistent:
        the file set comes from get_latest_lake_snapshot, which applies
        the engine's fencing invariant."""
        import json
        import os
        import time
        import urllib.parse
        import uuid

        from pyspark.sql.pandas.types import from_arrow_schema

        from fluss_spark.iceberg import _check_no_era_files

        snap = self.get_latest_lake_snapshot(db, name)
        # Delta readers resolve columns by name — refuse while any live
        # file still carries pre-rename physical names (same guard as
        # the Iceberg export; compaction clears it)
        _check_no_era_files(
            FlussTable(self.catalog, db, name).schema, snap.files, f"{db}.{name}"
        )
        log_dir = os.path.join(target_dir, "_delta_log")
        fsops.makedirs(log_dir)

        def _uri(p: str) -> str:
            return "file://" + urllib.parse.quote(os.path.abspath(p))

        # replay prior exports to diff against the live file set (and
        # keep the last metaData action for the pollution-heal below)
        prior = sorted(
            e.name for e in os.scandir(log_dir)
            if e.name.endswith(".json") and e.name[:-5].isdigit()
        )
        live_before: set[str] = set()
        prior_meta: dict | None = None
        for fn in prior:
            with open(os.path.join(log_dir, fn)) as f:
                for line in f:
                    act = json.loads(line)
                    if "add" in act:
                        live_before.add(act["add"]["path"])
                    elif "remove" in act:
                        live_before.discard(act["remove"]["path"])
                    elif "metaData" in act:
                        prior_meta = act["metaData"]
        version = int(prior[-1][:-5]) + 1 if prior else 0

        now_ms = int(time.time() * 1000)
        current = {_uri(p): p for p in snap.files}
        adds = sorted(set(current) - live_before)
        removes = sorted(live_before - set(current))

        # partition columns and values parsed from the hive-style path
        # segments the engine writes (__commit=N/<parts>/__bucket=M)
        def _pvals(path: str) -> dict[str, str]:
            return dict(
                seg.split("=", 1)
                for seg in path.split(os.sep)
                if "=" in seg and not seg.endswith(".parquet")
            )

        part_cols: list[str] = []
        for p in snap.files:
            for k in _pvals(p):
                if k not in part_cols:
                    part_cols.append(k)

        from fluss_spark.iceberg import (
            _check_no_mixed_partition_layout,
            lake_excluded_columns,
        )

        # same guard as the Iceberg export: a live set mixing
        # partition-dir layouts would read back NULL partition values
        _check_no_mixed_partition_layout(part_cols, snap.files, f"{db}.{name}")

        t = FlussTable(self.catalog, db, name)
        # pk tables: never surface the WAL system columns the fused
        # commit writes (as nulls) into snapshot footers
        excl = lake_excluded_columns(t.schema)
        actions: list[dict] = []
        if version == 0:
            actions.append(
                {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}
            )
        if version == 0:
            _SPARK_T = {"INT": "integer", "BIGINT": "long", "STRING": "string",
                        "DATE": "date", "TIMESTAMP": "timestamp",
                        "DOUBLE": "double", "FLOAT": "float"}
            declared = {f.name: f.type.upper() for f in t.schema.fields}
            if snap.files:
                import pyarrow.parquet as pq

                struct = from_arrow_schema(pq.read_schema(snap.files[0]))
                schema = json.loads(struct.json())
                schema["fields"] = [
                    f for f in schema["fields"] if f["name"] not in excl
                ]
            else:
                # empty table: a v0 log without metaData is invalid —
                # derive the schema from the declared fields
                schema = {
                    "type": "struct",
                    "fields": [
                        {"name": f.name, "nullable": True, "metadata": {},
                         "type": _SPARK_T.get(f.type.upper(), "string")}
                        for f in t.schema.fields
                    ],
                }
            for c in part_cols:
                schema["fields"].append({
                    "name": c, "nullable": True, "metadata": {},
                    "type": "long" if c.startswith("__")
                    else _SPARK_T.get(declared.get(c, "STRING"), "string"),
                })
            actions.append({
                "metaData": {
                    "id": str(uuid.uuid5(uuid.NAMESPACE_URL, f"fluss://{db}/{name}")),
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": json.dumps(schema),
                    "partitionColumns": part_cols,
                    "configuration": {},
                    "createdTime": now_ms,
                }
            })
        elif prior_meta is not None and excl:
            # heal a polluted lineage: a pre-fix export may have leaked
            # WAL system columns into the Delta schema (footers of fused
            # pk snapshots carried them); Delta allows a metaData action
            # in any commit, so append one corrected schema
            pm_schema = json.loads(prior_meta["schemaString"])
            cleaned = [f for f in pm_schema["fields"] if f["name"] not in excl]
            if len(cleaned) != len(pm_schema["fields"]):
                pm_schema["fields"] = cleaned
                healed = dict(prior_meta)
                healed["schemaString"] = json.dumps(pm_schema)
                actions.append({"metaData": healed})
        for uri in removes:
            actions.append({
                "remove": {"path": uri, "deletionTimestamp": now_ms,
                           "dataChange": True}
            })
        for uri in adds:
            p = current[uri]
            actions.append({
                "add": {
                    "path": uri,
                    "partitionValues": _pvals(p),
                    "size": os.path.getsize(p),
                    "modificationTime": int(os.path.getmtime(p) * 1000),
                    "dataChange": True,
                }
            })
        actions.append({
            "commitInfo": {
                "timestamp": now_ms,
                "operation": "FLUSS EXPORT",
                "operationParameters": {"commitVersion": str(snap.snapshot_id)},
            }
        })

        path = os.path.join(log_dir, f"{version:020d}.json")
        fsops.write_atomic(path, "".join(json.dumps(a) + "\n" for a in actions))
        return DeltaExport(version, path, len(adds), len(removes))

    # -- lake-format interop: Iceberg v2 metadata export -------------------
    def export_iceberg_metadata(self, db: str, name: str, target_dir: str):
        """Mirror the current lake snapshot as Iceberg v2 table metadata
        (HadoopTableOperations layout: vN.metadata.json +
        version-hint.text + Avro manifest list/manifests) an external
        Iceberg reader can open — the fluss-lake-iceberg tiering parity
        surface (IcebergLakeTieringFactory.java:39). Incremental like
        the Delta path: each call appends ONE snapshot with
        ADDED/EXISTING/DELETED manifest entries; data files are
        referenced in place, nothing is copied. See
        fluss_spark/iceberg.py for the format details."""
        from fluss_spark.iceberg import export_iceberg_metadata

        return export_iceberg_metadata(self, db, name, target_dir)

    # -- remote log manifests (Admin.listRemoteLogManifests) --------------
    def list_remote_log_manifests(self, db: str, name: str) -> dict[int, list[str]]:
        """Admin.listRemoteLogManifests (Admin.java:809): commit version ->
        parquet files of each tiered (remote) log segment."""
        import os

        from fluss_spark.sources.log import commit_dirs

        t = FlussTable(self.catalog, db, name)
        out: dict[int, list[str]] = {}
        for v, path in commit_dirs(t.log.remote_dir):
            out[v] = [
                os.path.relpath(os.path.join(dirpath, fn), t.log.remote_dir)
                for dirpath, _dirs, names in os.walk(path)
                for fn in sorted(names)
                if fn.endswith(".parquet")
            ]
        return out

    # -- offsets (Admin.listOffsets, OffsetSpec EARLIEST/LATEST/TIMESTAMP)
    def list_offsets(
        self,
        db: str,
        name: str,
        spec: str = "latest",
        spark: SparkSession | None = None,
        timestamp_ms: int | None = None,
    ) -> dict[int, int]:
        t = FlussTable(self.catalog, db, name)
        if spec == "latest":
            return t.latest_offsets()
        if spec == "earliest":
            return t.earliest_offsets()
        if spec == "timestamp":
            if spark is None or timestamp_ms is None:
                raise ValueError("timestamp spec requires spark + timestamp_ms")
            return t.offsets_for_timestamp(spark, timestamp_ms)
        raise ValueError(f"unknown offset spec: {spec}")

    # -- snapshots (Admin.getLatestKvSnapshots, :411-450) -----------------
    def get_latest_kv_snapshot(self, db: str, name: str) -> KvSnapshotInfo | None:
        t = FlussTable(self.catalog, db, name)
        if t.kv is None:
            raise ValueError("KV snapshots exist only for Primary Key Tables")
        state = self.catalog.current_commit(db, name)
        if state.snapshot_version < 0:
            return None
        history = {s.version: s for s in self.catalog.commit_history(db, name)}
        cs = history[state.snapshot_version]
        return KvSnapshotInfo(
            snapshot_id=state.snapshot_version,
            log_offsets={int(b): o for b, o in cs.log_hwm.items()},
        )

    # -- snapshot leases (Admin.createKvSnapshotLease, Admin.java:460) ----
    def create_kv_snapshot_lease(
        self,
        db: str,
        name: str,
        lease_id: str,
        lease_duration_ms: int,
        snapshot_id: int | None = None,
    ) -> KvSnapshotLeaseInfo:
        """Pin a snapshot version against GC for `lease_duration_ms`
        (default: the latest snapshot). expire_snapshots keeps leased
        versions and every data dir they reference; expiry is implicit
        (no release required), release is explicit and idempotent.
        Re-creating an existing lease_id renews it."""
        import json
        import time

        from fluss_spark import maintenance

        t = FlussTable(self.catalog, db, name)
        if t.kv is None:
            raise ValueError("KV snapshots exist only for Primary Key Tables")
        with self.catalog.write_lock(db, name):
            if snapshot_id is None:
                snapshot_id = self.catalog.current_commit(db, name).snapshot_version
            if snapshot_id < 0 or t.kv._manifest(snapshot_id) is None:
                raise ValueError(f"no such snapshot: {snapshot_id}")
            leases = maintenance.active_snapshot_leases(t)
            expires = int(time.time() * 1000) + int(lease_duration_ms)
            leases[lease_id] = {"snapshot": snapshot_id, "expires_ms": expires}
            fsops.write_atomic(maintenance.snapshot_leases_path(t), json.dumps(leases))
        return KvSnapshotLeaseInfo(
            lease_id=lease_id, snapshot_id=snapshot_id, expires_ms=expires
        )

    def release_kv_snapshot_lease(self, db: str, name: str, lease_id: str) -> None:
        import json

        from fluss_spark import maintenance

        t = FlussTable(self.catalog, db, name)
        with self.catalog.write_lock(db, name):
            leases = maintenance.active_snapshot_leases(t)
            leases.pop(lease_id, None)
            fsops.write_atomic(maintenance.snapshot_leases_path(t), json.dumps(leases))

    def list_kv_snapshot_leases(self, db: str, name: str) -> list[KvSnapshotLeaseInfo]:
        from fluss_spark import maintenance

        t = FlussTable(self.catalog, db, name)
        return [
            KvSnapshotLeaseInfo(lease_id=k, snapshot_id=v["snapshot"], expires_ms=v["expires_ms"])
            for k, v in sorted(maintenance.active_snapshot_leases(t).items())
        ]

    def get_kv_snapshot_metadata(self, db: str, name: str, snapshot_id: int) -> KvSnapshotMetadata:
        """Admin.getKvSnapshotMetadata (Admin.java:450): file set + resume
        offsets of one snapshot version."""
        import os

        t = FlussTable(self.catalog, db, name)
        if t.kv is None:
            raise ValueError("KV snapshots exist only for Primary Key Tables")
        manifest = t.kv._manifest(snapshot_id)
        if manifest is None:
            raise ValueError(f"no such snapshot: {snapshot_id}")
        history = {s.version: s for s in self.catalog.commit_history(db, name)}
        cs = history[snapshot_id]
        files = []
        for bdir in t.kv.manifest_unit_paths(manifest) or []:
            for fn in sorted(os.listdir(bdir)):
                if fn.endswith(".parquet"):
                    files.append(os.path.relpath(os.path.join(bdir, fn), t.kv.snapshot_dir))
        return KvSnapshotMetadata(
            snapshot_id=snapshot_id,
            bucket_dirs=dict(sorted(manifest.items())),
            files=files,
            log_offsets={int(b): o for b, o in cs.log_hwm.items()},
        )

    def list_kv_snapshots(self, db: str, name: str) -> list[int]:
        import os

        t = FlussTable(self.catalog, db, name)
        if t.kv is None:
            return []
        mdir = t.kv.manifest_dir
        if not os.path.isdir(mdir):
            return []
        return sorted(int(e.name[1:-5]) for e in os.scandir(mdir) if e.name.endswith(".json"))

    # -- ACLs (Admin.java:573-600; semantics in fluss_spark/security.py) --
    def list_acls(self, flt=None) -> list:
        from fluss_spark import security

        return security.list_acls(self.catalog, flt or security.MATCH_ANY)

    def create_acls(self, bindings: list) -> list:
        from fluss_spark import security

        return security.create_acls(self.catalog, bindings)

    def drop_acls(self, filters: list) -> list:
        from fluss_spark import security

        return security.drop_acls(self.catalog, filters)
