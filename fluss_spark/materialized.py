"""Materialized tables — the reference's CREATE MATERIALIZED TABLE
surface (website/docs/engine-flink/ddl.md "Materialized Table";
property names mirror FlinkConnectorOptions.java:241-294, which stores
materialized tables as REGULAR Fluss tables with `materialized-table.*`
metadata).

Spark-native model: a materialized table is a log table whose live
contents are the latest refresh of its definition query.

  - schema is INFERRED from the query (never declared), like the
    reference (ddl.md "Schema Definition");
  - each refresh recomputes the query, commits the result, then trims
    every older refresh commit exactly the way TTL retention trims aged
    segments (physical dir removal + log_start rebase), so the table
    always scans as "the current result" and storage stays one-refresh
    sized;
  - refresh cadence: the declared FRESHNESS interval. `refresh_due` /
    `refresh_all_due` are the maintenance hooks (the same model as
    auto-partitioning), and `continuous_refresh` is the reference's
    CONTINUOUS mode realized at micro-batch granularity — re-run when a
    SOURCE table's commit version advances, sleep the freshness
    interval otherwise (the T6 stance: long-poll becomes a trigger
    interval);
  - SUSPEND/RESUME flip `materialized-table.refresh-status` between
    ACTIVATED and SUSPENDED (CatalogMaterializedTable.RefreshStatus).

The refresh handler description/bytes options exist in the reference to
rehydrate a Flink refresh JOB; here the handler is the engine itself,
so only the description is stored.
"""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from fluss_spark.catalog import Catalog
from fluss_spark.table import FlussTable, create_table
from fluss_spark.types import Field, TableSchema, parse_type, type_name

MT_PREFIX = "materialized-table."
Q_PROP = MT_PREFIX + "definition-query"
FRESH_PROP = MT_PREFIX + "interval-freshness"
UNIT_PROP = MT_PREFIX + "interval-freshness.time-unit"
MODE_PROP = MT_PREFIX + "refresh-mode"
STATUS_PROP = MT_PREFIX + "refresh-status"
HANDLER_PROP = MT_PREFIX + "refresh-handler-description"
# engine-specific bookkeeping (no Flink job handle to serialize)
SOURCES_PROP = MT_PREFIX + "source-tables"
LAST_TS_PROP = MT_PREFIX + "last-refresh-ts-ms"
SOURCE_VERSIONS_PROP = MT_PREFIX + "source-versions"

_UNIT_MS = {"SECOND": 1_000, "MINUTE": 60_000, "HOUR": 3_600_000, "DAY": 86_400_000}


def is_materialized(schema: TableSchema) -> bool:
    return Q_PROP in schema.properties


def freshness_ms(schema: TableSchema) -> int:
    props = schema.properties
    return int(props.get(FRESH_PROP, "1")) * _UNIT_MS[props.get(UNIT_PROP, "MINUTE")]


def _referenced_tables(fsql, query: str) -> list[str]:
    """Engine tables the query text names (same superset match the view
    refresh uses) — recorded so continuous refresh can probe their
    commit versions instead of recomputing blindly."""
    low = query.lower()
    out = []
    for db in fsql.admin.list_databases():
        for t in fsql.catalog.list_tables(db):
            if f"{db}_{t}".lower() in low:
                out.append(f"{db}.{t}")
    return sorted(out)


def _source_versions(catalog: Catalog, sources: list[str]) -> str:
    parts = []
    for s in sources:
        db, t = s.split(".", 1)
        parts.append(f"{s}={catalog.current_commit(db, t).version}")
    return ",".join(parts)


def _set_props(catalog: Catalog, db: str, name: str, updates: dict[str, str]) -> None:
    """Internal bookkeeping writes bypass Admin.alter_table validation
    (these keys are engine-owned, like schema.evolution)."""
    with catalog.write_lock(db, name):
        sch = catalog.get_schema(db, name)
        sch.properties.update(updates)
        catalog.set_schema(db, name, sch)


def create_materialized_table(
    fsql,
    db: str,
    name: str,
    query: str,
    freshness: int = 1,
    freshness_unit: str = "MINUTE",
    options: dict[str, str] | None = None,
    if_not_exists: bool = False,
) -> FlussTable:
    """CREATE MATERIALIZED TABLE <name> FRESHNESS = INTERVAL '<n>'
    <unit> AS <query>: infer the schema by PLANNING the query (no
    execution), create the backing log table with the reference's
    materialized-table.* properties, and run the first refresh."""
    if freshness_unit.upper() not in _UNIT_MS:
        raise ValueError(f"freshness unit must be one of {sorted(_UNIT_MS)}")
    if if_not_exists and fsql.admin.table_exists(db, name):
        return FlussTable(fsql.catalog, db, name)
    fsql._register_referenced_views(query)
    df = fsql.spark.sql(query)  # planning only — infers the schema
    fields = [Field(f.name, type_name(f.dataType)) for f in df.schema.fields]
    sources = _referenced_tables(fsql, query)
    opts = dict(options or {})
    num_buckets = int(opts.pop("bucket.num", "4"))
    props = {
        Q_PROP: query,
        FRESH_PROP: str(int(freshness)),
        UNIT_PROP: freshness_unit.upper(),
        MODE_PROP: "CONTINUOUS",
        STATUS_PROP: "ACTIVATED",
        HANDLER_PROP: "fluss_spark micro-batch refresh (refresh_materialized_table)",
        SOURCES_PROP: ",".join(sources),
        **opts,
    }
    schema = TableSchema(fields=fields, num_buckets=num_buckets, properties=props)
    fsql.admin.create_database(db)
    create_table(fsql.catalog, db, name, schema)
    refresh_materialized_table(fsql, db, name)
    return FlussTable(fsql.catalog, db, name)


def refresh_materialized_table(fsql, db: str, name: str, force: bool = False) -> int:
    """One refresh: recompute the definition query, commit the result,
    trim all older refresh commits (physical removal + log_start rebase,
    the TTL-retention mechanics), and stamp the bookkeeping props.
    Returns the refresh's commit version."""
    t = FlussTable(fsql.catalog, db, name)
    props = t.schema.properties
    if Q_PROP not in props:
        raise ValueError(f"{db}.{name} is not a materialized table")
    if props.get(STATUS_PROP) == "SUSPENDED" and not force:
        raise ValueError(
            f"{db}.{name} is SUSPENDED — ALTER MATERIALIZED TABLE ... RESUME "
            "it (or refresh with force=True)"
        )
    if INC_SOURCE_PROP in props:
        return _refresh_incremental(fsql, t)
    fsql._register_referenced_views(props[Q_PROP])
    # record source versions BEFORE executing the query: a source commit
    # landing mid-refresh then re-triggers the next continuous tick
    # (recording after would absorb it and serve stale data forever)
    sources = [s for s in props.get(SOURCES_PROP, "").split(",") if s]
    versions_at_start = _source_versions(t.catalog, sources)
    df = fsql.spark.sql(props[Q_PROP])
    df = df.select(
        *[F.col(f.name).cast(parse_type(f.type)).alias(f.name) for f in t.schema.fields]
    )
    t.append(df)
    state = t.catalog.current_commit(db, name)
    _truncate_commits_before(t, state.version)
    _set_props(
        t.catalog,
        db,
        name,
        {
            LAST_TS_PROP: str(int(time.time() * 1000)),
            SOURCE_VERSIONS_PROP: versions_at_start,
        },
    )
    return state.version


def _truncate_commits_before(t: FlussTable, keep_version: int) -> int:
    """Remove every commit dir older than `keep_version` in both tiers
    and rebase log_start — TTL expiry (maintenance._expire_log_ttl)
    keyed by version instead of age."""
    from fluss_spark import maintenance

    with t.catalog.write_lock(t.db, t.name):
        return maintenance._trim_log_locked(t, lambda v, cs, state: v < keep_version)


def set_refresh_status(catalog: Catalog, db: str, name: str, status: str) -> None:
    """ALTER MATERIALIZED TABLE ... SUSPEND / RESUME."""
    sch = catalog.get_schema(db, name)
    if Q_PROP not in sch.properties:
        raise ValueError(f"{db}.{name} is not a materialized table")
    assert status in ("ACTIVATED", "SUSPENDED")
    _set_props(catalog, db, name, {STATUS_PROP: status})


def refresh_due(schema: TableSchema, now_ms: int | None = None) -> bool:
    """Freshness check: never refreshed, or last refresh older than the
    declared interval. Suspended tables are never due."""
    if schema.properties.get(STATUS_PROP) == "SUSPENDED":
        return False
    last = schema.properties.get(LAST_TS_PROP)
    if last is None:
        return True
    now = now_ms if now_ms is not None else int(time.time() * 1000)
    return now - int(last) >= freshness_ms(schema)


def refresh_all_due(fsql, now_ms: int | None = None) -> list[str]:
    """Maintenance entry point (the auto-partition model): refresh every
    ACTIVATED materialized table whose freshness interval has lapsed.
    Returns the qualified names refreshed."""
    refreshed = []
    for db in fsql.admin.list_databases():
        for name in fsql.catalog.list_tables(db):
            sch = fsql.catalog.get_schema(db, name)
            if is_materialized(sch) and refresh_due(sch, now_ms):
                refresh_materialized_table(fsql, db, name)
                refreshed.append(f"{db}.{name}")
    return refreshed


def sources_changed(catalog: Catalog, schema: TableSchema) -> bool:
    """Cheap continuous-mode probe: has any source table committed past
    the versions recorded at the last refresh? (One metadata read per
    source — no query execution.)"""
    recorded = dict(
        kv.split("=", 1)
        for kv in schema.properties.get(SOURCE_VERSIONS_PROP, "").split(",")
        if kv
    )
    for s in (x for x in schema.properties.get(SOURCES_PROP, "").split(",") if x):
        db, t = s.split(".", 1)
        if str(catalog.current_commit(db, t).version) != recorded.get(s):
            return True
    return False


def continuous_refresh(
    fsql, db: str, name: str, rounds: int, sleep_s: float | None = None
) -> int:
    """CONTINUOUS refresh mode at micro-batch granularity: for `rounds`
    ticks, refresh iff a source table's commit version advanced since
    the last refresh, else sleep the freshness interval (or `sleep_s`).
    Returns the number of refreshes performed. The reference runs this
    as a Flink streaming job; here it is the driver-side poll loop every
    other streaming surface uses (LogStreamReader.run)."""
    done = 0
    for i in range(rounds):
        sch = fsql.catalog.get_schema(db, name)
        if sch.properties.get(STATUS_PROP) != "SUSPENDED" and sources_changed(
            fsql.catalog, sch
        ):
            refresh_materialized_table(fsql, db, name)
            done += 1
        elif i < rounds - 1:
            time.sleep(sleep_s if sleep_s is not None else freshness_ms(sch) / 1000.0)
    return done


# --------------------------------------------------------------------- #
# Incremental refresh — delta maintenance for aggregation MTs
# --------------------------------------------------------------------- #
#
# A full refresh recomputes the definition query over the ENTIRE source:
# at 100 TB that is a full corpus scan per freshness tick. When the
# definition is a single-source GROUP BY over decomposable aggregates
# (count/sum/min/max), the refresh can instead fold only the source
# rows committed SINCE the last refresh into the (small) current result:
# cost ∝ |delta| + |MT|, independent of |source|. Same consumption
# mechanics as secondary-index syncs (indexes.sync_index): per-bucket
# offset high-water marks, slice end fixed before the read, rebucket
# epoch fence.
#
# Sources: a LOG source contributes append-only deltas (all four
# aggregate kinds are safe); a PK source contributes changelog rows
# with retraction weights (+I/+U = +1, -U/-D = -1), under which only
# count/sum are incrementally maintainable (a deleted MIN needs the
# full group to re-derive) — and a count is REQUIRED so fully-retracted
# groups can be dropped.

INC_SOURCE_PROP = MT_PREFIX + "incremental.source"
INC_GROUP_PROP = MT_PREFIX + "incremental.group-by"
INC_AGGS_PROP = MT_PREFIX + "incremental.aggregates"
INC_WHERE_PROP = MT_PREFIX + "incremental.where"
INC_OFFSETS_PROP = MT_PREFIX + "incremental.synced-offsets"
INC_EPOCH_PROP = MT_PREFIX + "incremental.synced-bucket-epoch"
INC_PENDING_PROP = MT_PREFIX + "incremental.pending"

_INT_TYPES = {"TINYINT", "SMALLINT", "INT", "INTEGER", "BIGINT"}


def create_incremental_materialized_table(
    fsql,
    db: str,
    name: str,
    source: str,
    group_by: list[str],
    aggs: dict[str, tuple[str, str]],
    where: str | None = None,
    freshness: int = 1,
    freshness_unit: str = "MINUTE",
    options: dict[str, str] | None = None,
) -> FlussTable:
    """CREATE MATERIALIZED TABLE maintained INCREMENTALLY: `aggs` maps
    output column -> (fn, col) with fn in count/sum/min/max (col '*'
    for count). The definition query is still generated and stored in
    Q_PROP (SHOW CREATE / DESCRIBE render it, and tests can recompute
    it for equality), but refresh never runs it — it folds the source
    slice since the last refresh instead."""
    import json as _json

    src_db, src_name = source.split(".", 1)
    src = FlussTable(fsql.catalog, src_db, src_name)
    sfields = {f.name: f for f in src.schema.fields}
    missing = [c for c in group_by if c not in sfields]
    if missing:
        raise ValueError(f"unknown group columns: {missing}")
    is_pk = src.kv is not None
    sql_parts, fields = [], [Field(c, sfields[c].type) for c in group_by]
    has_count = False
    for out, (fn, col) in aggs.items():
        fn = fn.lower()
        if fn not in ("count", "sum", "min", "max"):
            raise ValueError(f"{out}: fn must be count/sum/min/max, got {fn}")
        if fn == "count":
            has_count = True
            fields.append(Field(out, "BIGINT"))
            sql_parts.append(f"count({col}) AS {out}")
            continue
        if col not in sfields:
            raise ValueError(f"{out}: unknown column {col}")
        if fn == "sum":
            ftype = "BIGINT" if sfields[col].type.upper() in _INT_TYPES else "DOUBLE"
            fields.append(Field(out, ftype))
        else:
            if is_pk:
                raise ValueError(
                    f"{out}: {fn} is not incrementally maintainable over a "
                    "pk source (a retraction may remove the current "
                    "extremum; only count/sum fold under deletes)"
                )
            fields.append(Field(out, sfields[col].type))
        sql_parts.append(f"{fn}({col}) AS {out}")
    if is_pk and not has_count:
        raise ValueError(
            "pk sources require a count aggregate (fully-retracted groups "
            "are detected by their count reaching zero)"
        )
    where_sql = f" WHERE {where}" if where else ""
    query = (
        f"SELECT {', '.join(group_by + sql_parts)} FROM {src_db}_{src_name}"
        f"{where_sql} GROUP BY {', '.join(group_by)}"
    )
    opts = dict(options or {})
    num_buckets = int(opts.pop("bucket.num", "4"))
    props = {
        Q_PROP: query,
        FRESH_PROP: str(int(freshness)),
        UNIT_PROP: freshness_unit.upper(),
        MODE_PROP: "CONTINUOUS",
        STATUS_PROP: "ACTIVATED",
        HANDLER_PROP: "fluss_spark incremental delta refresh",
        SOURCES_PROP: source,
        INC_SOURCE_PROP: source,
        INC_GROUP_PROP: _json.dumps(group_by),
        INC_AGGS_PROP: _json.dumps({k: list(v) for k, v in aggs.items()}),
        **({INC_WHERE_PROP: where} if where else {}),
        **opts,
    }
    fsql.admin.create_database(db)
    create_table(
        fsql.catalog, db, name,
        TableSchema(fields=fields, num_buckets=num_buckets, properties=props),
    )
    refresh_materialized_table(fsql, db, name)
    return FlussTable(fsql.catalog, db, name)


def _refresh_incremental(fsql, t: FlussTable) -> int:
    import json as _json

    props = t.schema.properties
    src_db, src_name = props[INC_SOURCE_PROP].split(".", 1)
    src = FlussTable(t.catalog, src_db, src_name)
    group = _json.loads(props[INC_GROUP_PROP])
    aggs = {k: tuple(v) for k, v in _json.loads(props[INC_AGGS_PROP]).items()}
    mt_types = {f.name: f.type for f in t.schema.fields}

    synced = _json.loads(props.get(INC_OFFSETS_PROP, "{}"))
    epoch = props.get(INC_EPOCH_PROP, "0")

    # crash recovery: offsets are staged as PENDING before the data
    # commit and finalized after. If a pending marker exists, the MT's
    # commit version tells whether the append landed (versions are
    # monotonic, single-writer): landed -> finalize the staged offsets;
    # not landed -> discard and re-read from the finalized ones. Either
    # way the slice is applied exactly once.
    cur_version = t.catalog.current_commit(t.db, t.name).version
    pending = _json.loads(props.get(INC_PENDING_PROP, "null") or "null")
    if pending is not None:
        if cur_version >= pending["expect_version"]:
            synced, epoch = pending["offsets"], pending.get("epoch", epoch)
            _set_props(t.catalog, t.db, t.name, {
                INC_OFFSETS_PROP: _json.dumps(synced, sort_keys=True),
                INC_EPOCH_PROP: epoch,
                INC_PENDING_PROP: "",
            })
        else:
            _set_props(t.catalog, t.db, t.name, {INC_PENDING_PROP: ""})
    # an empty record is the first refresh: a fresh cursor, not fenced
    # (the source may have been rebucketed before the MT existed)
    sl = src.log.slice_from(
        synced or None,
        epoch,
        "the incremental state cannot be rebuilt across a rebucket or from "
        f"expired unfolded data — drop and recreate {t.db}.{t.name}, and set "
        "the source's table.log.ttl above the refresh interval",
    )
    versions_at_start = _source_versions(t.catalog, [f"{src_db}.{src_name}"])

    if src.kv is not None:
        delta = src.changelog(fsql.spark, start_offsets=sl.start, end_offsets=sl.end)
        w = (
            F.when(F.col("_change_type").isin("+I", "+U"), F.lit(1))
            .otherwise(F.lit(-1))
            .cast("bigint")
        )
    else:
        delta = src.scan(fsql.spark, start_offsets=sl.start, end_offsets=sl.end)
        w = F.lit(1).cast("bigint")
    if props.get(INC_WHERE_PROP):
        delta = delta.filter(F.expr(props[INC_WHERE_PROP]))

    partial_exprs, merge_exprs = [], []
    for out, (fn, col) in aggs.items():
        target = parse_type(mt_types[out])
        if fn == "count":
            p = F.sum(w) if col == "*" else F.sum(
                F.when(F.col(col).isNotNull(), w).otherwise(F.lit(0))
            )
            m = F.sum(out)
        elif fn == "sum":
            p = F.sum(F.col(col).cast(target) * w)
            m = F.sum(out)
        elif fn == "min":
            p, m = F.min(col), F.min(out)
        else:
            p, m = F.max(col), F.max(out)
        partial_exprs.append(p.cast(target).alias(out))
        merge_exprs.append(m.cast(target).alias(out))

    partial = delta.groupBy(*group).agg(*partial_exprs)
    old = t.snapshot(fsql.spark)
    merged = old.unionByName(partial).groupBy(*group).agg(*merge_exprs)
    if src.kv is not None:
        count_col = next(o for o, (fn, _c) in aggs.items() if fn == "count")
        merged = merged.filter(F.col(count_col) > 0)

    # stage the slice-end offsets as pending, keyed to the commit
    # version the append WILL create, then commit, trim, finalize
    _set_props(t.catalog, t.db, t.name, {
        INC_PENDING_PROP: _json.dumps(
            {"offsets": sl.end, "epoch": sl.epoch, "expect_version": cur_version + 1},
            sort_keys=True,
        ),
    })
    t.append(merged)
    state = t.catalog.current_commit(t.db, t.name)
    _truncate_commits_before(t, state.version)
    _set_props(t.catalog, t.db, t.name, {
        INC_OFFSETS_PROP: _json.dumps(sl.end, sort_keys=True),
        INC_EPOCH_PROP: sl.epoch,
        INC_PENDING_PROP: "",
        LAST_TS_PROP: str(int(time.time() * 1000)),
        SOURCE_VERSIONS_PROP: versions_at_start,
    })
    return state.version
