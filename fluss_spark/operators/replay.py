"""Changelog replay — the engine's core fold.

Reproduces the semantics of the reference's KV write path
(server/kv/KvTablet.java:514-792: read-old → merge → emit
+I/-U/+U/-D into the WAL) and its row mergers
(server/kv/rowmerger/{Default,FirstRow,Versioned,Aggregate}RowMerger.java)
— but as ONE declarative Spark plan instead of a per-record RocksDB
loop: rows are hash-distributed by primary key, running merged state is
computed with window aggregates over (pk, __seq), the changelog is
derived by lag() comparison, and the snapshot is the final state per
key. Everything stays in whole-stage codegen; no Python in the path.

Input contract (prepared by sources/kv.py):
    pk cols + data cols
    __op      'U' (upsert) | 'D' (delete)
    __seq     long, per-pk fold order; seed (existing snapshot) rows = 0
    __is_seed 1 for snapshot seed rows, else 0

Output: ONE frame routed by `__dest` (the PK commit's contract): change
events ('w': data cols + _change_type + __seq + __sub) and, with
`images`, each key's snapshot image ('s').

A sequential pandas fold (`replay_exact`) covers the one combination the
window path does not: partial updates interleaved with deletes, where a
key's death must reset column state (PartialUpdater.deleteRow semantics,
server/kv/partialupdate/PartialUpdater.java:104-138).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fluss_spark.types import (
    CHANGE_TYPE_COL,
    DELETE,
    INSERT,
    UPDATE_AFTER,
    UPDATE_BEFORE,
    TableSchema,
)

OP_COL = "__op"
SEQ_COL = "__seq"
SEED_COL = "__is_seed"
SUB_COL = "__sub"
DEST_COL = "__dest"  # fused commit routing: 'w' event, 's' image, NULL anchor

_LONG_MIN = -(2**63)


# NOTE: the fold plans below are built from WHOLE-SELECT SQL strings
# (selectExpr), not per-column Column objects. Each Column call is a
# py4j round trip (~0.7ms of pure driver latency); at a few hundred
# calls per commit that was ~30% of the steady-state commit constant.
# One selectExpr = one round trip and one JVM-side parse, producing the
# identical resolved plan.


def _run_over(pk: list[str], order: str | None = None) -> str:
    """Running-state window frame: everything up to this fold step."""
    return f"{_lag_over(pk, order)} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"


def _lag_over(pk: list[str], order: str | None = None) -> str:
    """Fold-order window over the key. `order` is the ORDER BY of the
    window that numbered `__seq` (see `replay`'s `seq_order`): ordering
    by the same spec lets the fold reuse that window's sort, and rows
    tied in it keep the one physical order `__seq` was numbered in."""
    pks = ", ".join(f"`{c}`" for c in pk)
    return f"PARTITION BY {pks} ORDER BY {order or f'`{SEQ_COL}`'}"


# `cluster_cols` (below) prefixes every fold window's PARTITION BY with
# coarser clustering columns that are FUNCTIONS OF the primary key
# (the commit path passes [__bucket], bucket = pmod(hash(pk), n)): the
# per-key frames are identical, but a frame partitioned by
# (bucket, pk) is satisfied by a hash(bucket) exchange — so the fold,
# the changelog emission and the downstream commit windows (offsets,
# touched units, id carry — all PARTITION BY bucket[, pk]) share ONE
# bucket-keyed exchange (sized by bucketing.exchange_width) instead of a
# pk exchange plus a bucket exchange (guide §2.4: two operations keyed
# the same way share one exchange).


def _struct_sql(cols: list[str]) -> str:
    return "struct(" + ", ".join(f"`{c}`" for c in cols) + ")"


def emit_select_list(
    cols: list[str],
    cur_state: str,
    prev_state: str,
    prev_present: str,
    emit_cond: str,
    extra_cols: list[str] | None = None,
    images: bool = True,
    anchors: bool = False,
    last: str = "__last",
) -> list[str]:
    """Select list of the changelog-emission layer (see `_emit`). A
    standalone string builder so `replay` (`_emit`) and the PK commit's
    SQL fold (kv.KvStore._fold) emit from the SAME expression
    strings. Empty slots come out as all-null rows that
    `EMIT_WHERE` drops.

    Rows carry `__dest`: 'w' on events; with `images` True the key's last row
    (`last`) adds its snapshot image ('s', change type NULL) — a batch
    row's after-image (`__sub` 2, after its events) or the seed row
    itself (`__sub` -1). `anchors` (auto-increment) keeps every seed
    row as the id carry's anchor (`__dest` NULL unless the image)."""

    def mk(ct_expr: str, row: str | None, sub: int, dest_sql: str = "'w'") -> str:
        val = (lambda c: f"({row}).`{c}`") if row is not None else (lambda c: f"`{c}`")
        return (
            f"named_struct('{SUB_COL}', {sub}, '{CHANGE_TYPE_COL}', {ct_expr}, "
            + ", ".join(f"'{c}', {val(c)}" for c in cols)
            + f", '{DEST_COL}', {dest_sql}"
            + ")"
        )

    is_u = f"(`{SEED_COL}` = 0 AND `{OP_COL}` = 'U' AND ({emit_cond}))"
    slot1 = (
        f"CASE WHEN {is_u} AND ({prev_present}) THEN {mk(repr(UPDATE_BEFORE), prev_state, 0)}"
        f" WHEN {is_u} AND NOT ({prev_present}) THEN {mk(repr(INSERT), cur_state, 0)}"
        f" WHEN `{SEED_COL}` = 0 AND `{OP_COL}` = 'D' AND ({prev_present})"
        f" THEN {mk(repr(DELETE), prev_state, 0)}"
        " END"
    )
    slot2 = f"CASE WHEN {is_u} AND ({prev_present}) THEN {mk(repr(UPDATE_AFTER), cur_state, 1)} END"
    slots = [slot1, slot2]
    no_ct = "CAST(NULL AS STRING)"
    if images:
        slots.append(
            f"CASE WHEN `{SEED_COL}` = 0 AND {last} AND ({cur_state}) IS NOT NULL"
            f" THEN {mk(no_ct, cur_state, 2, repr('s'))} END"
        )
    if images or anchors:
        # the seed row is the key's prior state: raw columns, no state
        # struct (identical values — the seed sorts first, so no event
        # has folded into the running state yet)
        seed_dest = f"CASE WHEN {last} THEN 's' END" if images else no_ct
        only_last = "" if anchors else f" AND {last}"
        slots.append(
            f"CASE WHEN `{SEED_COL}` = 1{only_last}"
            f" THEN {mk(no_ct, None, -1, seed_dest)} END"
        )
    return [
        f"`{SEQ_COL}`",
        *[f"`{c}`" for c in (extra_cols or [])],
        f"inline(array({', '.join(slots)}))",
    ]


# every real emission slot sets `__sub` (0, 1 or -1); an empty slot
# inlines to an all-null row. Filtering after the generator, instead of
# array_compact (a `filter` lambda, evaluated through the interpreter)
# inside it, keeps the Generate node in whole-stage codegen.
EMIT_WHERE = f"`{SUB_COL}` IS NOT NULL"


def _emit(
    df: DataFrame,
    cols: list[str],
    cur_state: str,
    prev_state: str,
    prev_present: str,
    emit_cond: str,
    extra_cols: list[str] | None = None,
    **dest,
) -> DataFrame:
    """Assemble changelog rows: per input record an array of 0-2 change
    events, exploded JVM-side. All state arguments are SQL expression
    strings over `df`'s columns.

    +I when the key appears, -U/+U pair on update, -D on delete —
    exactly KvTablet.applyInsert/applyUpdate/applyDelete
    (KvTablet.java:755-792).

    ONE generator: the events are FLAT structs (sub + change type + data
    columns at the top level) unpacked by inline() in the same select
    that builds them, and the seed-row suppression rides the slot
    conditions (a slot that does not fire inlines to a null row, which
    `EMIT_WHERE` drops) — a measurable slice of the per-commit driver
    constant.

    `extra_cols` ride through unchanged (the commit path keeps __bucket
    so its windows reuse the fold's exchange). `dest` holds the fused
    commit's `images` / `anchors` / `last` (see `emit_select_list`)."""
    return df.selectExpr(
        *emit_select_list(
            cols, cur_state, prev_state, prev_present, emit_cond,
            extra_cols, **dest,
        )
    ).filter(EMIT_WHERE)


def replay(
    df: DataFrame,
    schema: TableSchema,
    partial_update_cols: list[str] | None = None,
    merge_mode: str | None = None,
    may_have_deletes: bool = True,
    cluster_cols: list[str] | None = None,
    images: bool = True,
    seq_order: str | None = None,
) -> DataFrame:
    """Fold a change stream into its changelog, routed by `__dest`.

    Dispatches on the table's merge engine (MergeEngineType.java:23-64).
    `merge_mode='overwrite'` bypasses the merge engine and applies plain
    last-write-wins — the undo/recovery path (M8, Upsert.mergeMode,
    client/table/writer/Upsert.java:61-98).

    `may_have_deletes=False` is a caller hint (the batch carried no __op
    column, so every op is 'U') that skips the delete-probe jobs.

    `cluster_cols` / `images` are the fused-commit contract (see the
    note above _run_over and `emit_select_list`): windows additionally
    keyed by the clustering columns, which ride through, and a
    changelog whose rows carry `__dest` — change events ('w') plus,
    with `images` True, each key's snapshot image ('s'); auto-increment
    tables also keep every seed row as an id anchor. The commit reads
    its snapshot from those images.

    `seq_order` is the ORDER BY of the window that numbered `__seq`
    (its columns still in `df`, see kv.KvStore._fold_input_sql): the
    fold windows order by it instead of `__seq`, so they reuse that
    window's sort rather than sorting again.
    """
    engine = "default" if merge_mode == "overwrite" else schema.merge_engine
    pk = schema.primary_key
    cols = schema.data_columns()
    part = list(cluster_cols or []) + list(pk)
    if not pk:
        raise ValueError("replay requires a primary-key table")
    dest = {
        "images": images,
        "anchors": any(f.auto_increment for f in schema.fields),
    }

    if schema.delete_behavior == "disable" and may_have_deletes:
        # DeleteBehavior.DISABLE (metadata/DeleteBehavior.java:28-47)
        if df.filter(F.col(OP_COL) == "D").limit(1).count() > 0:
            raise ValueError("DELETE disabled for this table (table.delete.behavior=disable)")
    if schema.delete_behavior == "ignore" and may_have_deletes:
        df = df.filter((F.col(OP_COL) != "D") | (F.col(SEED_COL) == 1))

    if engine == "default":
        if partial_update_cols:
            has_deletes = may_have_deletes and df.filter(
                (F.col(OP_COL) == "D") & (F.col(SEED_COL) == 0)
            ).limit(1).count() > 0
            if has_deletes:
                out = replay_exact(df, schema, partial_update_cols, cluster_cols, **dest)
            else:
                out = _replay_partial(df, schema, partial_update_cols, part, seq_order, dest)
        else:
            out = _replay_default(df, schema, part, seq_order, dest)
        return _apply_changelog_image(out, schema, full_row=not partial_update_cols)
    if engine == "first_row":
        return _replay_first_row(df, schema, part, seq_order, dest)
    if engine == "versioned":
        return _apply_changelog_image(
            _replay_versioned(df, schema, part, seq_order, dest), schema, full_row=False
        )
    if engine == "aggregation":
        return _apply_changelog_image(
            _replay_aggregation(
                df, schema, partial_update_cols, part, seq_order, dest
            ),
            schema, full_row=False,
        )
    raise ValueError(f"unknown merge engine: {engine}")


def _apply_changelog_image(changelog: DataFrame, schema: TableSchema, full_row: bool) -> DataFrame:
    """M9 changelog image (metadata/ChangelogImage.java): FULL keeps
    -U/+U pairs; WAL drops UPDATE_BEFORE, and — for default merge with
    full-row updates — converts +I to +U (the skip-old-lookup
    optimization, 'similar to database WAL behavior'). The +I -> +U
    shortcut is gated OFF on auto-increment tables, exactly as the
    reference gates it on !hasAutoIncrement (KvTablet.java:723-725):
    ids are minted at insert, so the commit path must still see which
    events are inserts."""
    if schema.changelog_image != "wal":
        return changelog
    changelog = changelog.filter(wal_image_where_sql())
    has_autoinc = any(f.auto_increment for f in schema.fields)
    if schema.merge_engine == "default" and full_row and not has_autoinc:
        changelog = changelog.withColumn(
            CHANGE_TYPE_COL, F.expr(wal_image_ct_case_sql())
        )
    return changelog


def wal_image_where_sql() -> str:
    """WAL changelog image: drop UPDATE_BEFORE rows. NULL-safe, since
    snapshot images ride the changelog (_change_type NULL marks an
    image or an id anchor, which a plain != filter would silently drop
    — data loss on the snapshot rewrite). Shared with the SQL fold."""
    return (
        f"(`{CHANGE_TYPE_COL}` IS NULL OR "
        f"`{CHANGE_TYPE_COL}` != '{UPDATE_BEFORE}')"
    )


def wal_image_ct_case_sql() -> str:
    """WAL image's +I -> +U shortcut ('similar to database WAL
    behavior') for default merge with full-row updates; the caller gates
    it off on auto-increment tables (KvTablet.java:723-725). Shared with
    the SQL fold."""
    return (
        f"CASE WHEN `{CHANGE_TYPE_COL}` = '{INSERT}' THEN '{UPDATE_AFTER}' "
        f"ELSE `{CHANGE_TYPE_COL}` END"
    )


# ---------------------------------------------------------------------- #
# default merge (last write wins) — DefaultRowMerger.java
# ---------------------------------------------------------------------- #


def default_fold_select_list(cols: list[str], over: str) -> list[str]:
    """Columns of the default-merge running-state layer, all over the
    fold window `over` (a `_lag_over` spec): the state after this
    record (NULL once deleted), the state before it, and whether this
    is the key's last record. Shared by `_replay_default` and the PK
    commit's SQL fold (kv.KvStore._fold), which computes them in the
    same window as the `__seq` numbering."""
    state = f"CASE WHEN `{OP_COL}` = 'U' THEN {_struct_sql(cols)} END"
    return [
        f"{state} AS __cur",
        f"lag({state}) OVER ({over}) AS __prev",
        f"coalesce(lag(`{OP_COL}` = 'U') OVER ({over}), false) AS __prev_present",
        _last_sql(over),
    ]


def _last_sql(over: str) -> str:
    """`__last`: the key's last record in fold order — no row follows it
    in the fold window, so its state is the key's snapshot image."""
    return f"lead(1) OVER ({over}) IS NULL AS __last"


def _replay_default(
    df: DataFrame,
    schema: TableSchema,
    part: list[str],
    seq_order: str | None,
    dest: dict,
) -> DataFrame:
    pk, cols = schema.primary_key, schema.data_columns()
    extra = [c for c in part if c not in pk]
    d = df.selectExpr("*", *default_fold_select_list(cols, _lag_over(part, seq_order)))
    changelog = _emit(
        d,
        cols,
        cur_state="__cur",
        prev_state="__prev",
        prev_present="__prev_present",
        emit_cond="true",
        extra_cols=extra,
        **dest,
    )
    return changelog


# ---------------------------------------------------------------------- #
# partial update (no deletes) — PartialUpdater.java:35-103
# ---------------------------------------------------------------------- #


def _replay_partial(
    df: DataFrame,
    schema: TableSchema,
    target_cols: list[str],
    part: list[str],
    seq_order: str | None,
    dest: dict,
) -> DataFrame:
    """Running per-column state: target columns take the incoming value
    (explicit nulls overwrite — hence the struct wrapper that makes
    'set to null' distinguishable from 'not set'); untouched columns keep
    their last state (null before first write)."""
    pk, cols = schema.primary_key, schema.data_columns()
    extra = [c for c in part if c not in pk]
    run_over, lag_over = _run_over(part, seq_order), _lag_over(part, seq_order)

    running = []
    for c in cols:
        if c in pk:
            running.append(f"`{c}`")
        elif c in target_cols:
            # seed rows set every column; batch rows set target columns
            running.append(
                f"(last(named_struct('v', `{c}`), true) OVER ({run_over})).v AS `{c}`"
            )
        else:
            running.append(
                f"(last(CASE WHEN `{SEED_COL}` = 1 THEN named_struct('v', `{c}`) END,"
                f" true) OVER ({run_over})).v AS `{c}`"
            )

    # two steps: __cur holds running-window state, so lag(__cur) must
    # sit in its own projection (window functions cannot nest)
    state = "struct(" + ", ".join(running) + ")"
    d = df.selectExpr("*", f"{state} AS __cur")
    d = d.selectExpr(
        "*",
        f"lag(__cur) OVER ({lag_over}) AS __prev",
        f"(lag(true) OVER ({lag_over})) IS NOT NULL AS __prev_present",
        _last_sql(lag_over),
    )
    changelog = _emit(
        d,
        cols,
        cur_state="__cur",
        prev_state="__prev",
        prev_present="__prev_present",
        emit_cond="true",
        extra_cols=extra,
        **dest,
    )
    return changelog


# ---------------------------------------------------------------------- #
# FIRST_ROW — FirstRowRowMerger.java (insert-only changelog)
# ---------------------------------------------------------------------- #


def _replay_first_row(
    df: DataFrame,
    schema: TableSchema,
    part: list[str],
    seq_order: str | None,
    dest: dict,
) -> DataFrame:
    """The key's first upsert wins and never changes: a batch winner is
    the key's +I (and its snapshot image), a seed winner emits no event
    (and is its own image). One row per key survives the winner
    filter, so every row is its key's last."""
    pk, cols = schema.primary_key, schema.data_columns()
    extra = [c for c in part if c not in pk]
    winners = (
        df.filter(f"`{OP_COL}` = 'U'")
        .selectExpr(
            "*",
            f"row_number() OVER ({_lag_over(part, seq_order)}) AS __rn",
        )
        .filter("__rn = 1")
    )
    row = _struct_sql(cols)
    changelog = _emit(
        winners,
        cols,
        cur_state=row,
        prev_state=row,
        prev_present="false",
        emit_cond="true",
        extra_cols=extra,
        last="true",
        **dest,
    )
    return changelog


# ---------------------------------------------------------------------- #
# VERSIONED — VersionedRowMerger.java:68-110 (null ver = -inf, tie -> new)
# ---------------------------------------------------------------------- #


def _replay_versioned(
    df: DataFrame,
    schema: TableSchema,
    part: list[str],
    seq_order: str | None,
    dest: dict,
) -> DataFrame:
    pk, cols = schema.primary_key, schema.data_columns()
    extra = [c for c in part if c not in pk]
    ver = schema.version_column
    if not ver:
        raise ValueError("versioned merge engine requires table.merge-engine.versioned.ver-column")
    run_over, lag_over = _run_over(part, seq_order), _lag_over(part, seq_order)

    # ranking key: (version with null -> -inf, then arrival order so the
    # newer write wins ties) — exactly createVersionComparator + new-wins
    rank = (
        f"named_struct('v', coalesce(CAST(`{ver}` AS BIGINT), {_LONG_MIN}L),"
        f" 's', `{SEQ_COL}`)"
    )
    payload = f"named_struct('k', {rank}, 'row', {_struct_sql(cols)})"
    # struct compare = lexicographic (v, s)
    d = df.filter(f"`{OP_COL}` = 'U'").selectExpr(
        "*", f"max({payload}) OVER ({run_over}) AS __w"
    )
    d = d.selectExpr(
        "*",
        "__w.row AS __cur",
        f"lag(__w) OVER ({lag_over}) AS __prev_w",
        _last_sql(lag_over),
    ).selectExpr("*", "__prev_w.row AS __prev", "__prev_w IS NOT NULL AS __prev_present")
    changelog = _emit(
        d,
        cols,
        cur_state="__cur",
        prev_state="__prev",
        prev_present="__prev_present",
        # emit only when this record became the winner (its seq is the
        # winner seq)
        emit_cond=f"__w.k.s = `{SEQ_COL}`",
        extra_cols=extra,
        **dest,
    )
    return changelog


# ---------------------------------------------------------------------- #
# AGGREGATION — AggregateRowMerger.java:57-271 + field aggregators
# (server/kv/rowmerger/aggregate/functions/*.java)
# ---------------------------------------------------------------------- #


def _agg_running(c: str, agg: str, run_over: str, delim: str = ",", dtype: str = "double") -> str:
    col = f"`{c}`"
    n_set = f"count({col}) OVER ({run_over})"
    if agg == "sum":
        return f"CAST(CASE WHEN {n_set} > 0 THEN sum({col}) OVER ({run_over}) END AS {dtype})"
    if agg == "product":
        prod = (
            f"aggregate(collect_list({col}) OVER ({run_over}), CAST(1.0 AS DOUBLE),"
            " (a, x) -> a * CAST(x AS DOUBLE))"
        )
        return f"CASE WHEN {n_set} > 0 THEN CAST({prod} AS {dtype}) END"
    if agg == "max":
        return f"max({col}) OVER ({run_over})"
    if agg == "min":
        return f"min({col}) OVER ({run_over})"
    if agg == "last_value":
        return f"(last(named_struct('v', {col})) OVER ({run_over})).v"
    if agg == "last_value_ignore_nulls":
        return f"last({col}, true) OVER ({run_over})"
    if agg == "first_value":
        return f"(first(named_struct('v', {col})) OVER ({run_over})).v"
    if agg == "first_value_ignore_nulls":
        return f"first({col}, true) OVER ({run_over})"
    if agg in ("listagg", "string_agg"):
        lst = f"collect_list({col}) OVER ({run_over})"  # skips nulls, offset order
        dq = delim.replace("\\", "\\\\").replace("'", "\\'")
        return f"CASE WHEN size({lst}) > 0 THEN array_join({lst}, '{dq}') END"
    if agg == "bool_and":
        return f"min({col}) OVER ({run_over})"
    if agg == "bool_or":
        return f"max({col}) OVER ({run_over})"
    if agg in ("rbm32", "rbm64"):
        # roaring bitmap union (FieldRoaringBitmap32/64Agg): the column
        # is the bitmap value itself (array<long> here, BYTES blob in the
        # reference); each record contributes a bitmap, fold = union
        return f"array_sort(array_distinct(flatten(collect_list({col}) OVER ({run_over}))))"
    raise ValueError(f"unknown aggregate function: {agg}")


def _replay_aggregation(
    df: DataFrame,
    schema: TableSchema,
    partial_update_cols: list[str] | None,
    part: list[str],
    seq_order: str | None,
    dest: dict,
) -> DataFrame:
    """AGGREGATION merge; with `partial_update_cols` only target columns
    take the batch's contributions, untouched columns carry the seed's
    accumulated value (PartialAggregateRowMerger,
    AggregateRowMerger.java:224-271). Null-skipping aggregates behave
    identically either way; last_value/first_value need the explicit
    carry so a partial batch's nulls don't overwrite."""
    pk, cols = schema.primary_key, schema.data_columns()
    extra = [c for c in part if c not in pk]
    agg_spec = schema.agg_spec
    delim = schema.properties.get("table.merge-engine.aggregation.listagg-delimiter", ",")
    run_over, lag_over = _run_over(part, seq_order), _lag_over(part, seq_order)
    dtypes = dict(df.dtypes)
    target = set(partial_update_cols) if partial_update_cols else None

    running = []
    for c in cols:
        if c in pk:
            running.append(f"`{c}`")
        elif target is not None and c not in target:
            # untouched column: carry the accumulated (seed) value
            running.append(
                f"(last(CASE WHEN `{SEED_COL}` = 1 THEN named_struct('v', `{c}`) END,"
                f" true) OVER ({run_over})).v AS `{c}`"
            )
        elif c in agg_spec:
            running.append(
                f"{_agg_running(c, agg_spec[c], run_over, delim, dtypes.get(c, 'double'))}"
                f" AS `{c}`"
            )
        else:
            # non-aggregated column: last value wins (AggregateRowMerger
            # falls back to replace for unconfigured columns)
            running.append(
                f"(last(named_struct('v', `{c}`)) OVER ({run_over})).v AS `{c}`"
            )

    state = "struct(" + ", ".join(running) + ")"
    d = df.filter(f"`{OP_COL}` = 'U'").selectExpr("*", f"{state} AS __cur")
    d = d.selectExpr(
        "*",
        f"lag(__cur) OVER ({lag_over}) AS __prev",
        f"(lag(true) OVER ({lag_over})) IS NOT NULL AS __prev_present",
        _last_sql(lag_over),
    )
    changelog = _emit(
        d,
        cols,
        cur_state="__cur",
        prev_state="__prev",
        prev_present="__prev_present",
        emit_cond="true",
        extra_cols=extra,
        **dest,
    )
    return changelog


# ---------------------------------------------------------------------- #
# exact sequential fold (pandas) — partial update ⨯ delete interplay
# ---------------------------------------------------------------------- #


def replay_exact(
    df: DataFrame,
    schema: TableSchema,
    partial_update_cols: list[str] | None = None,
    cluster_cols: list[str] | None = None,
    images: bool = True,
    anchors: bool = False,
) -> DataFrame:
    """Per-key sequential fold via applyInPandas (Arrow-batched, grouped
    by pk — distributed, but row-at-a-time inside each key). Used only
    for partial-update+delete mixtures; semantics from
    PartialUpdater.updateRow/deleteRow (PartialUpdater.java:35-138):
    delete retracts target columns, the row dies when every non-pk
    column is null. `cluster_cols` / `images` / `anchors` follow the
    fused-commit contract (see replay and `emit_select_list`):
    clustering columns ride through the output, and every row carries
    `__dest`, with the key's snapshot image after its last record."""
    import pandas as pd

    pk, cols = schema.primary_key, schema.data_columns()
    non_pk = [c for c in cols if c not in pk]
    target = [c for c in (partial_update_cols or cols) if c not in pk]
    extra = [c for c in (cluster_cols or []) if c not in pk]
    out_cols = [SEQ_COL, *extra, SUB_COL, CHANGE_TYPE_COL, *cols, DEST_COL]

    out_schema = ", ".join(
        [f"`{SEQ_COL}` long"]
        + [f"`{c}` int" for c in extra]
        + [f"`{SUB_COL}` int", f"`{CHANGE_TYPE_COL}` string"]
        + [f"`{f.name}` {f.to_struct_field().dataType.simpleString()}" for f in schema.fields]
        + [f"`{DEST_COL}` string"]
    )

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        recs = pdf.sort_values(SEQ_COL).to_dict("records")
        state: dict | None = None
        rows = []
        ex: dict = {}

        def emit(seq, sub, ct, vals, dest="w"):
            rows.append({SEQ_COL: seq, **ex, SUB_COL: sub, CHANGE_TYPE_COL: ct, **vals, DEST_COL: dest})

        for rec in recs:
            ex = {c: rec[c] for c in extra}
            if rec[SEED_COL] == 1:
                state = {c: rec[c] for c in cols}
                seed_last = len(recs) == 1
                if (images and seed_last) or anchors:
                    emit(0, -1, None, state, "s" if images and seed_last else None)
                continue
            seq = rec[SEQ_COL]
            if rec[OP_COL] == "U":
                if state is None:
                    state = {c: None for c in cols}
                    for c in pk:
                        state[c] = rec[c]
                    for c in target:
                        state[c] = rec[c]
                    emit(seq, 0, INSERT, state)
                else:
                    prev = dict(state)
                    for c in target:
                        state[c] = rec[c]
                    emit(seq, 0, UPDATE_BEFORE, prev)
                    emit(seq, 1, UPDATE_AFTER, state)
            else:  # delete
                if state is None:
                    continue
                prev = dict(state)
                for c in target:
                    state[c] = None
                if all(state[c] is None or pd.isna(state[c]) for c in non_pk):
                    emit(seq, 0, DELETE, prev)
                    state = None
                else:
                    emit(seq, 0, UPDATE_BEFORE, prev)
                    emit(seq, 1, UPDATE_AFTER, state)
        if images and state is not None and recs[-1][SEED_COL] == 0:
            emit(recs[-1][SEQ_COL], 2, None, state, "s")
        return pd.DataFrame(rows, columns=out_cols)

    return df.groupBy(*pk).applyInPandas(fold, schema=out_schema)
