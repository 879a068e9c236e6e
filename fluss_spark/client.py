"""Fluent client facade — the reference's Table API surface
(client/table/Table.java:39-76) mapped 1:1 onto the engine:

    table = connect(warehouse).get_table("db", "t")
    df  = table.new_scan().project(["a", "b"]).create_batch_scanner(spark)
    rdr = table.new_scan().create_log_scanner(spark)
    rows = table.new_lookup().create_lookuper(spark).lookup(7).collect()
    w   = table.new_upsert().partial_update("k", "v").create_writer(spark)
    w.upsert({"k": 1, "v": "x"}); w.delete({"k": 2}); w.flush()

Adaptation notes (documented divergences, not omissions):
  - Builders are immutable, like Scan.java:35 ("Refinement methods ...
    create new Scan instances").
  - Scanners return DataFrames (the engine's record batches); the
    reference returns record iterators because its consumers are
    row-at-a-time runtimes.
  - A lookuper returns a DataFrame over the Arrow table the driver
    read: `collect()` runs no Spark job, and the JVM side is built only
    if Spark needs a plan (a join, `explain`, a write).
  - Writers buffer rows client-side and `flush()` commits ONE engine
    transaction — the same batching the reference's WriterClient does
    over the wire (write/WriterClient.java accumulates WriteBatch per
    bucket and flushes), with the ack at commit granularity instead of
    per-record futures.
"""

from __future__ import annotations

from dataclasses import dataclass, replace

from pyspark.sql import Column, DataFrame, SparkSession

from fluss_spark.bucketing import bucket_of
from fluss_spark.catalog import Catalog
from fluss_spark.table import FlussTable
from fluss_spark.types import BUCKET_COL, OFFSET_COL, TIMESTAMP_COL


class Connection:
    """ConnectionFactory.createConnection equivalent: a handle over one
    warehouse (the cluster)."""

    def __init__(self, warehouse: str):
        self.catalog = Catalog(warehouse)

    def get_table(self, db: str, name: str) -> "ClientTable":
        return ClientTable(FlussTable(self.catalog, db, name))

    def get_admin(self):
        from fluss_spark.admin import Admin

        return Admin(self.catalog)


def connect(warehouse: str) -> Connection:
    return Connection(warehouse)


class ClientTable:
    """Table.java:39: getTableInfo / newScan / newLookup / newAppend /
    newUpsert. The schema is pinned at creation (Table.java:43-46 note)."""

    def __init__(self, table: FlussTable):
        self._t = table

    def get_table_info(self):
        return self._t.schema

    def new_scan(self) -> "Scan":
        return Scan(self._t)

    def new_lookup(self) -> "Lookup":
        return Lookup(self._t)

    def new_append(self) -> "Append":
        if self._t.kv is not None:
            raise ValueError("newAppend requires a Log Table (Table.java:66)")
        return Append(self._t)

    def new_upsert(self) -> "Upsert":
        if self._t.kv is None:
            raise ValueError("newUpsert requires a Primary Key Table (Table.java:73)")
        return Upsert(self._t)


@dataclass(frozen=True)
class Scan:
    """Scan.java:41-110: immutable scan builder."""

    _t: FlussTable
    _project: list[str] | None = None
    _limit: int | None = None
    _filter: Column | None = None

    def project(self, columns: list[str] | list[int]) -> "Scan":
        if columns and isinstance(columns[0], int):
            names = self._t.schema.data_columns()
            columns = [names[i] for i in columns]
        return replace(self, _project=list(columns))

    def limit(self, n: int) -> "Scan":
        return replace(self, _limit=n)

    def filter(self, predicate: Column) -> "Scan":
        """Predicate from fluss_spark.predicates (or any Column). Unlike
        the reference (batch-level filtering only, Scan.java:67), the
        filter IS exact here — Catalyst pushes it to the scan."""
        return replace(self, _filter=predicate)

    # -- scanners ---------------------------------------------------------
    def create_batch_scanner(
        self,
        spark: SparkSession,
        bucket: int | None = None,
        snapshot_id: int | None = None,
    ) -> DataFrame:
        """BatchScanner (Scan.java:90-110): current data, optionally one
        bucket, optionally a historical snapshot (PK tables)."""
        t = self._t
        if snapshot_id is not None:
            if t.kv is None:
                raise ValueError("snapshot scans exist only for Primary Key Tables")
            df = t.kv.snapshot(spark, version=snapshot_id, buckets=None if bucket is None else [bucket])
        elif t.kv is not None:
            df = t.kv.snapshot(spark, buckets=None if bucket is None else [bucket])
        else:
            df = t.scan(spark)
            if bucket is not None:
                df = df.filter(df[BUCKET_COL] == bucket)
            df = df.drop(BUCKET_COL, OFFSET_COL, TIMESTAMP_COL)
        if self._filter is not None:
            df = df.filter(self._filter)
        if self._project is not None:
            df = df.select(*self._project)
        if self._limit is not None:
            df = df.limit(self._limit)
        return df

    def create_log_scanner(self, spark: SparkSession, **reader_kw):
        """LogScanner (Scan.java:80): continuous micro-batch reader;
        poll() returns offset-fenced batches. Projection/filter apply
        per batch (limit is unsupported, as in the reference)."""
        if self._limit is not None:
            raise ValueError("createLogScanner doesn't support limit (Scan.java:78)")
        from fluss_spark.streaming.reader import LogStreamReader

        reader = LogStreamReader(self._t, spark, **reader_kw)
        proj, flt = self._project, self._filter
        if proj is None and flt is None:
            return reader

        class _ProjectingReader:
            def __getattr__(self, name):  # checkpointing etc. pass through
                return getattr(reader, name)

            @staticmethod
            def _apply(df):
                if flt is not None:
                    df = df.filter(flt)
                if proj is not None:
                    df = df.select(*proj)
                return df

            def poll(self):
                polled = reader.poll()
                if polled is None:
                    return None
                df, batch_id = polled
                return self._apply(df), batch_id

            def process_available(self, fn, max_batches: int = 1000):
                # the raw reader's drain calls ITS OWN poll, so the
                # projection must wrap the batch function — a plain
                # passthrough would silently deliver unprojected rows
                return reader.process_available(
                    lambda df, bid: fn(self._apply(df), bid), max_batches=max_batches
                )

        return _ProjectingReader()


@dataclass(frozen=True)
class Lookup:
    """Lookup.java:63-114: lookup by full pk, or by a key prefix after
    lookupBy (must equal the bucket key, validated downstream)."""

    _t: FlussTable
    _by: list[str] | None = None

    def lookup_by(self, *columns: str) -> "Lookup":
        return replace(self, _by=list(columns))

    def create_lookuper(self, spark: SparkSession) -> "Lookuper":
        return Lookuper(self._t, spark, self._by)


class Lookuper:
    """Lookuper.java:43: lookup(key values, positional in pk/prefix
    order) -> matching rows as a DataFrame."""

    def __init__(self, table: FlussTable, spark: SparkSession, by: list[str] | None):
        self._t = table
        self._spark = spark
        self._by = by

    def lookup(self, *values) -> DataFrame:
        if self._t.kv is None:
            raise ValueError("lookups exist only for Primary Key Tables")
        cols = self._by if self._by is not None else self._t.schema.primary_key
        if len(values) != len(cols):
            raise ValueError(f"expected values for {cols}, got {len(values)}")
        key = dict(zip(cols, values))
        if self._by is None:
            return self._t.lookup(self._spark, key)
        return self._t.prefix_lookup(self._spark, key)


def _coerce(v, dt):
    """Python-side convenience coercions the old JSON path provided:
    int literals for FLOAT/DOUBLE/DECIMAL columns and ISO strings for
    DATE/TIMESTAMP columns. Everything else must already match the
    declared type (createDataFrame verifies and raises — better than
    the JSON path's silent nulling)."""
    import datetime
    import decimal

    from pyspark.sql import types as T

    if v is None or isinstance(v, bool):
        return v
    if isinstance(dt, (T.FloatType, T.DoubleType)) and isinstance(v, int):
        return float(v)
    if isinstance(dt, T.DecimalType) and isinstance(v, (int, float, str)):
        return decimal.Decimal(str(v))
    if isinstance(dt, T.DateType) and isinstance(v, str):
        return datetime.date.fromisoformat(v)
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)) and isinstance(v, str):
        return datetime.datetime.fromisoformat(v)
    return v


class _BufferedWriter:
    def __init__(self, table: FlussTable, spark: SparkSession):
        self._t = table
        self._spark = spark
        self._rows: list[dict] = []

    def _push(self, record: dict | tuple, extra: dict | None = None) -> None:
        cols = self._t.schema.data_columns()
        if not isinstance(record, dict):
            if len(record) != len(cols):
                raise ValueError(
                    f"record has {len(record)} values, table has columns {cols}"
                )
            record = dict(zip(cols, record))
        unknown = set(record) - set(cols)
        if unknown:
            raise ValueError(f"unknown columns: {sorted(unknown)}")
        self._rows.append({**record, **(extra or {})})

    def _drain(self) -> tuple[DataFrame, list[tuple]] | None:
        """The buffered records as a DataFrame plus the same rows as
        driver-side tuples (table columns first, in schema order), or
        None when nothing is buffered."""
        if not self._rows:
            return None
        rows, self._rows = self._rows, []
        # build tuples against the DECLARED schema (per-row dicts may be
        # ragged: partial updates / deletes carry only some columns).
        # createDataFrame with an explicit schema preserves bytes for
        # BINARY columns and non-finite doubles — a JSON round-trip
        # turned bytes into their repr string and NaN/Infinity rows into
        # corrupt records that PERMISSIVE mode silently nulled.
        from pyspark.sql import types as T

        extra_fields = sorted(
            {k for r in rows for k in r} - set(self._t.schema.data_columns())
        )
        # all-nullable drain schema: delete / partial-update rows
        # legitimately leave non-key NOT NULL columns unset, and the
        # engine enforces declared nullability at its own boundary —
        # createDataFrame's verifier must not reject them here
        fields = [
            T.StructField(sf.name, sf.dataType, True, metadata=sf.metadata)
            for sf in (f.to_struct_field() for f in self._t.schema.fields)
        ]
        for e in extra_fields:
            fields.append(
                T.StructField(e, T.LongType() if e == "__client_seq" else T.StringType(), True)
            )
        schema = T.StructType(fields)
        data = [
            tuple(_coerce(r.get(f.name), f.dataType) for f in fields) for r in rows
        ]
        return self._spark.createDataFrame(data, schema), data


class Append:
    """Append.java: builder for AppendWriter."""

    def __init__(self, table: FlussTable):
        self._t = table

    def create_writer(self, spark: SparkSession) -> "AppendWriter":
        return AppendWriter(self._t, spark)


class AppendWriter(_BufferedWriter):
    """AppendWriter.java:31-39: append(record); flush() commits the
    buffered batch as one engine transaction."""

    def append(self, record: dict | tuple) -> None:
        self._push(record)

    def flush(self) -> None:
        drained = self._drain()
        if drained is not None:
            self._t.append(drained[0])


@dataclass(frozen=True)
class Upsert:
    """Upsert.java:30-102: immutable builder; partialUpdate narrows the
    target columns (must include the full pk)."""

    _t: FlussTable
    _partial: list[str] | None = None

    def partial_update(self, *columns: str) -> "Upsert":
        cols = list(columns[0]) if len(columns) == 1 and isinstance(columns[0], (list, tuple)) else list(columns)
        return replace(self, _partial=cols)

    def create_writer(self, spark: SparkSession) -> "UpsertWriter":
        return UpsertWriter(self._t, spark, self._partial)


class UpsertWriter(_BufferedWriter):
    """UpsertWriter.java:39-47: upsert(record) / delete(record);
    flush() commits one transaction preserving the call order per key
    (the buffered sequence is the fold's `ordering`)."""

    def __init__(self, table: FlussTable, spark: SparkSession, partial: list[str] | None):
        super().__init__(table, spark)
        self._partial = partial
        self._seq = 0

    def _allowed(self) -> list[str]:
        return self._partial if self._partial is not None else self._t.schema.data_columns()

    def upsert(self, record: dict | tuple) -> None:
        if not isinstance(record, dict):
            allowed = self._allowed()
            if len(record) != len(allowed):
                raise ValueError(
                    f"record has {len(record)} values, expected {allowed}"
                )
            record = dict(zip(allowed, record))
        extra = {"__op": "U", "__client_seq": self._seq}
        self._seq += 1
        self._check_partial(record)
        self._push(record, extra)

    def delete(self, record: dict | tuple) -> None:
        pk = self._t.schema.primary_key
        if not isinstance(record, dict):
            if len(record) != len(pk):
                raise ValueError(f"delete key has {len(record)} values, pk is {pk}")
            record = dict(zip(pk, record))
        extra = {"__op": "D", "__client_seq": self._seq}
        self._seq += 1
        self._push(record, extra)

    def _check_partial(self, record: dict) -> None:
        if self._partial is not None:
            outside = set(record) - set(self._partial)
            if outside:
                raise ValueError(
                    f"partialUpdate({self._partial}): record sets columns "
                    f"outside the target set: {sorted(outside)}"
                )

    def flush(self) -> None:
        drained = self._drain()
        if drained is None:
            return
        df, data = drained
        schema = self._t.schema
        kw = {}
        if not schema.partition_keys:
            # the rows are on the driver: route them in Python (bit-exact
            # with Spark's hash()) and hand the commit its buckets, which
            # skips the job that would otherwise discover them
            fields = [f.to_struct_field() for f in schema.fields]
            pos = {f.name: i for i, f in enumerate(fields)}
            idx = [pos[c] for c in schema.bucket_keys]
            types = [fields[i].dataType for i in idx]
            kw["batch_buckets"] = sorted(
                {bucket_of([r[i] for i in idx], types, schema.num_buckets) for r in data}
            )
        self._t.upsert(
            df,
            ordering=["__client_seq"],
            partial_update_cols=self._partial,
            **kw,
        )
