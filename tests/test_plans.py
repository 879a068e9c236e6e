"""Plan-shape tests: prove the pushdowns the engine relies on actually
appear in the physical plan (the reference asserts the same via
explainSql in its connector ITCases)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

import plan_inspect as plans
from fluss_spark.catalog import Catalog
from fluss_spark.registry import QUERIES, load, load_all_queries
from fluss_spark.table import create_table
from fluss_spark.types import Field, TableSchema

load_all_queries()


@pytest.fixture()
def catalog(tmp_path):
    return Catalog(str(tmp_path / "wh"))


def test_filter_pushdown_reaches_parquet(spark, sf_dir):
    df = load(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 30).select("l_orderkey")
    pf = plans.pushed_filters(df)
    plans.assert_contains(pf, "GreaterThan(l_quantity")


def test_projection_prunes_read_schema(spark, sf_dir):
    df = load(spark, sf_dir, "part").select("p_partkey", "p_name")
    rs = plans.read_schema(df)
    plans.assert_contains(rs, "p_partkey", "p_name")
    assert "p_retailprice" not in rs  # untouched column not read


def test_engine_scan_pushdown(spark, catalog):
    t = create_table(
        catalog, "db", "plan_log",
        TableSchema(fields=[Field("a", "INT"), Field("b", "STRING")], num_buckets=2),
    )
    t.append(spark.createDataFrame([(i, f"v{i}") for i in range(100)], "a int, b string"))
    scan = t.scan(spark).filter(F.col("a") > 50).select("b")
    plans.assert_contains(plans.pushed_filters(scan), "GreaterThan(a,50)")
    # offset time travel prunes via parquet stats on __offset
    tt = t.scan(spark, start_offsets={0: 10, 1: 10})
    assert "GreaterThanOrEqual(__offset" in plans.pushed_filters(tt)


def test_log_append_single_exchange_sized_by_exchange_width(spark, catalog):
    """The append's per-bucket offset window runs behind ONE hash
    exchange on __bucket as wide as bucketing.exchange_width (table
    buckets capped by cores), not spark.sql.shuffle.partitions, and the
    write still emits one file per bucket."""
    import glob
    import re

    from fluss_spark.bucketing import exchange_width

    t = create_table(
        catalog, "db", "plan_append",
        TableSchema(
            fields=[Field("a", "INT"), Field("b", "STRING")], bucket_keys=["a"], num_buckets=3
        ),
    )
    df = spark.createDataFrame([(i, f"v{i}") for i in range(60)], "a int, b string")
    state = catalog.current_commit("db", "plan_append")
    out, _auto = t.log._append_plan(df, state, 123456, None)
    plan = out._sc._jvm.PythonSQLUtils.explainString(out._jdf.queryExecution(), "simple")
    width = exchange_width(spark, 3)
    assert width != int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan
    assert re.search(rf"hashpartitioning\(`?__bucket`?#\d+, {width}\)", plan), plan
    t.append(df)
    files = glob.glob(f"{t.log.log_dir}/__commit=1/__bucket=*/*.parquet")
    assert len(files) == 3 and len({os.path.dirname(f) for f in files}) == 3


def test_partitioned_engine_scan_prunes_dirs(spark, catalog):
    t = create_table(
        catalog, "db", "plan_part",
        TableSchema(
            fields=[Field("dt", "STRING"), Field("a", "INT")],
            partition_keys=["dt"],
            num_buckets=2,
        ),
    )
    t.append(
        spark.createDataFrame([("d1", 1), ("d2", 2), ("d3", 3)], "dt string, a int")
    )
    df = t.scan(spark).filter(F.col("dt") == "d2")
    pf = plans.partition_filters(df)
    plans.assert_contains(pf, "dt")  # dt filter is a partition filter, not a data filter
    assert df.count() == 1


def test_lookup_prunes_bucket_partition(spark, catalog, keyed_read_probe):
    """The L1 lookup routes to the owning bucket in the client and reads
    only that bucket's files from the ONE manifest dir holding it, on
    the driver: a local relation, no file scan, no Spark job."""
    t = create_table(
        catalog, "db", "plan_pk",
        TableSchema(fields=[Field("k", "INT", nullable=False), Field("v", "STRING")], primary_key=["k"], num_buckets=4),
    )
    t.upsert(spark.createDataFrame([(i, f"v{i}") for i in range(50)], "k int, v string"))
    # second commit touching a strict subset of buckets -> multi-dir manifest
    t.upsert(spark.createDataFrame([(7, "v7b")], "k int, v string"))
    ver = catalog.current_commit("db", "plan_pk").snapshot_version
    assert len(t.kv.referenced_data_dirs(ver)) >= 2
    rows = keyed_read_probe(t, lambda: t.lookup(spark, {"k": 7}), [7], "k int")
    assert [r["v"] for r in rows] == ["v7b"]


def test_prefix_lookup_prunes_bucket_partition(spark, catalog, keyed_read_probe):
    """The L2 prefix lookup takes the same client-routed, driver-side
    read of ONE bucket dir of ONE manifest dir as L1."""
    t = create_table(
        catalog, "db", "plan_pfx",
        TableSchema(
            fields=[
                Field("k", "INT", nullable=False),
                Field("s", "INT", nullable=False),
                Field("v", "STRING"),
            ],
            primary_key=["k", "s"],
            bucket_keys=["k"],
            num_buckets=4,
        ),
    )
    t.upsert(
        spark.createDataFrame(
            [(i, j, f"v{i}.{j}") for i in range(25) for j in range(2)],
            "k int, s int, v string",
        )
    )
    t.upsert(spark.createDataFrame([(7, 0, "v7b")], "k int, s int, v string"))
    ver = catalog.current_commit("db", "plan_pfx").snapshot_version
    assert len(t.kv.referenced_data_dirs(ver)) >= 2
    rows = keyed_read_probe(t, lambda: t.prefix_lookup(spark, {"k": 7}), [7], "k int")
    assert sorted(r["v"] for r in rows) == ["v7.1", "v7b"]


def test_lookup_misses_start_no_job(spark, catalog, keyed_read_probe):
    """A lookup that finds no row answers with an empty local relation
    and starts no Spark job, whether the key's bucket holds rows, no
    manifest dir holds the bucket, or the key is a value the column
    cannot hold (7.5 for an INT)."""
    from pyspark.sql import types as T

    from fluss_spark.bucketing import bucket_of

    t = create_table(
        catalog, "db", "plan_miss",
        TableSchema(fields=[Field("k", "INT", nullable=False), Field("v", "STRING")], primary_key=["k"], num_buckets=8),
    )
    bucket = {k: bucket_of([k], [T.IntegerType()], 8) for k in range(200)}
    written = [k for k in range(200) if bucket[k] != bucket[0]][:40]
    t.upsert(spark.createDataFrame([(k, f"v{k}") for k in written], "k int, v string"))
    ver = catalog.current_commit("db", "plan_miss").snapshot_version
    held = set(t.kv._manifest(ver))
    assert bucket[0] not in held
    miss = next(k for k in range(200) if k not in written and bucket[k] in held)
    assert keyed_read_probe(t, lambda: t.lookup(spark, {"k": miss}), [miss], "k int") == []
    assert keyed_read_probe(t, lambda: t.lookup(spark, {"k": 0}), [0], "k int") == []
    assert keyed_read_probe(t, lambda: t.lookup(spark, {"k": 7.5}), None, None) == []


def test_star_join_broadcasts_dims(spark, sf_dir):
    df = QUERIES["join_star_broadcast"](spark, sf_dir)
    assert plans.has_broadcast_join(df)
    assert plans.has_whole_stage_codegen(df)


def test_q1_partial_aggregation(spark, sf_dir):
    df = QUERIES["agg_tpch_q1"](spark, sf_dir)
    assert plans.has_partial_aggregation(df)  # map-side combine before shuffle
    assert plans.has_whole_stage_codegen(df)


def test_limit_is_take_ordered(spark, sf_dir):
    df = QUERIES["s7_limit_topn"](spark, sf_dir)
    assert "TakeOrderedAndProject" in plans.physical_plan(df)  # no full sort


@pytest.mark.slow
def test_no_unpartitioned_window_over_unbounded_input(spark, sf_dir):
    """Repo-wide scale fence: no registered query may plan a Window
    with an empty partition spec over unbounded input — that executes
    as a single-partition sort of its whole input (the `WindowExec: No
    Partition Defined` warning), a one-executor bottleneck at 100 TB.
    Bounded inputs (below a GlobalLimit / TakeOrderedAndProject) are
    allowed: at most K rows reach the window. Reference analog: the
    whole point of FileLogProjection/stats pushdown is never shipping
    the corpus to one node."""
    load_all_queries()
    from fluss_spark.registry import QUERIES as _Q

    bad = {}
    for name in sorted(_Q):
        df = _Q[name](spark, sf_dir)
        offenders = plans.unbounded_global_windows(df)
        # same pass also fences unbounded cartesians: corpus x corpus
        # with no equi-key never finishes at 100 TB (1-row stat frames
        # crossJoined onto a scan are bounded and pass)
        offenders += plans.unbounded_cartesians(df)
        # and row-at-a-time Python UDFs: Python in the hot path must be
        # Arrow-batched (MapInPandas/FlatMapGroupsInPandas/ArrowEval),
        # never per-row pickling
        if "BatchEvalPython" in plans.physical_plan(df):
            offenders.append("BatchEvalPython (row-at-a-time Python UDF)")
        if offenders:
            bad[name] = offenders
    assert not bad, f"unbounded Window/cartesian/row-UDF in plan:\n{bad}"


def test_unbounded_global_window_detector_fires(spark, sf_dir):
    """The fence's detector actually detects: a deliberate global
    row_number over an unbounded scan must be flagged, and the
    bounded (post-limit) variant must not."""
    from pyspark.sql.window import Window as W

    base = load(spark, sf_dir, "events")
    bad = base.withColumn("rn", F.row_number().over(W.orderBy("ts")))
    assert plans.unbounded_global_windows(bad)
    ok = base.orderBy("ts").limit(10).withColumn(
        "rn", F.row_number().over(W.orderBy("ts"))
    )
    assert not plans.unbounded_global_windows(ok)

    # WindowGroupLimit soundness: a global rank FILTER plans as
    # WindowGroupLimit Partial (per map partition, parallel) + Final
    # (post-exchange merge of <=k rows per partition) — allowed, but
    # only via the explicit Partial-stage check, NOT by treating
    # "WindowGroupLimit" as a limit (its output grows with the input).
    # rank() (not row_number, which optimizes to TakeOrderedAndProject)
    ranked = base.withColumn("rn", F.rank().over(W.orderBy("ts"))).filter("rn <= 5")
    ranked.collect()  # AQE-final plan carries the WGL stages
    assert not plans.unbounded_global_windows(ranked)
    wgl_final = []

    def _find(node):
        s = node.simpleString(500)
        if node.nodeName() == "WindowGroupLimit" and "Final" in s:
            wgl_final.append(node)
        for k in plans._plan_children(node):
            _find(k)

    _find(ranked._jdf.queryExecution().executedPlan())
    assert wgl_final, "expected a WindowGroupLimit(Final) stage in the rank-filter plan"
    # the old exemption is gone: the Final node is NOT bounded by name —
    # it was admitted because a Partial stage sits below the exchange
    assert not plans._bounded_rows(wgl_final[0])
    assert plans._has_partial_window_group_limit(wgl_final[0])

    # a Final-only shape (no Partial cut before the single partition —
    # here forced via coalesce(1)) is a full-input single-partition
    # pass and MUST be flagged
    final_only = (
        base.coalesce(1)
        .withColumn("rn", F.rank().over(W.orderBy("ts")))
        .filter("rn <= 5")
    )
    assert plans.unbounded_global_windows(final_only)


def test_predicate_builder_maps_to_pushdown(spark, sf_dir):
    from fluss_spark import predicates as P

    df = load(spark, sf_dir, "orders").filter(
        P.and_(
            P.greater_than("o_totalprice", 1000),
            P.in_("o_orderpriority", ["1-URGENT", "2-HIGH"]),
            P.is_not_null("o_custkey"),
        )
    ).select("o_orderkey")
    pf = plans.pushed_filters(df)
    plans.assert_contains(pf, "GreaterThan(o_totalprice,1000.0)", "In(o_orderpriority", "IsNotNull(o_custkey)")
    assert P.only_touches(
        P.partition({"dt": "d1"}), {"dt"}, {"dt", "a"}
    )
    assert not P.only_touches(P.equal("a", 1), {"dt"}, {"dt", "a"})


def _batch_buckets(t, batch):
    """The table buckets a batch's keys hash to (Spark's own bucket
    expression), which size the commit's one exchange."""
    return {r[0] for r in batch.select(t.kv._bucket_expr()).distinct().collect()}


def _pin_commit_plan(spark, out, buckets, num_buckets, scans, windows=3):
    """Pins of a fused commit-output plan as the commit runs it (AQE
    off): ONE hash exchange on __bucket, as wide as the sizing rule
    min(table buckets, touched buckets, cores); no broadcast; `scans`
    file scans; ONE Generate — the fold's, emitting events and snapshot
    images together — inside whole-stage codegen, with no array_compact
    / filter lambda left to pull it out; 2 sorts — the one the __seq
    numbering and the fold state share, plus the commit's arrival-order
    sort (the writer's own sort is not part of this plan); and at most
    `windows` Window operators (the plain SQL fold: one key window, the
    offset window and the touched-unit window)."""
    import re

    from fluss_spark.sources.kv import BUCKET_COL, _aqe_off_enter, _aqe_off_exit

    _aqe_off_enter(spark)
    try:
        full = out._sc._jvm.PythonSQLUtils.explainString(
            out._jdf.queryExecution(), "simple"
        )
    finally:
        _aqe_off_exit(spark)
    width = min(num_buckets, len(set(buckets)), spark.sparkContext.defaultParallelism)
    assert len(re.findall(r"Exchange hashpartitioning", full)) == 1, full
    assert re.search(rf"hashpartitioning\(`?{BUCKET_COL}`?#\d+, {width}\)", full), full
    assert "BroadcastHashJoin" not in full, full
    assert full.count("InMemoryFileIndex") == scans, full
    gens = re.findall(r"^[\s+\-:|]*(\*\(\d+\) )?Generate ", full, re.M)
    assert len(gens) == 1 and all(gens), full
    assert "array_compact" not in full and "filter(" not in full, full
    assert len(re.findall(r"^[\s+\-:|]*(?:\*\(\d+\) )?Sort \[", full, re.M)) == 2, full
    assert len(re.findall(r"^[\s+\-:|]*Window \[", full, re.M)) <= windows, full


def test_replay_fold_is_single_shuffle(spark, sf_dir):
    """The whole upsert/changelog fold must be ONE hash exchange on the
    pk — both window passes (running state + lag) reuse the same
    partitioning. A second exchange here would double the write path's
    shuffle volume at scale."""
    from pyspark.sql.window import Window

    from fluss_spark.operators.replay import OP_COL, SEED_COL, SEQ_COL, replay
    from fluss_spark.registry import load
    from fluss_spark.types import Field, TableSchema

    ev = load(spark, sf_dir, "events").select("event_id", "user_id", "event_type", "value")
    schema = TableSchema(
        fields=[Field("user_id", "BIGINT"), Field("event_type", "STRING"), Field("value", "DOUBLE")],
        primary_key=["user_id"],
        num_buckets=8,
    )
    b = (
        ev.withColumn(OP_COL, F.lit("U"))
        .withColumn(
            SEQ_COL,
            F.row_number().over(Window.partitionBy("user_id").orderBy("event_id")).cast("long"),
        )
        .withColumn(SEED_COL, F.lit(0))
        .select("user_id", "event_type", "value", OP_COL, SEQ_COL, SEED_COL)
    )
    changelog = replay(b, schema, images=False)
    simple = changelog._sc._jvm.PythonSQLUtils.explainString(
        changelog._jdf.queryExecution(), "simple"
    )
    assert simple.count("Exchange") == 1, simple

    # the VERSIONED merge fold (max_by struct rank + lag) must reuse the
    # same pk partitioning: still exactly ONE exchange
    v_schema = TableSchema(
        fields=[
            Field("user_id", "BIGINT"),
            Field("event_type", "STRING"),
            Field("value", "DOUBLE"),
            Field("ver", "BIGINT"),
        ],
        primary_key=["user_id"],
        num_buckets=8,
        properties={
            "table.merge-engine": "versioned",
            "table.merge-engine.versioned.ver-column": "ver",
        },
    )
    vb = b.withColumn("ver", (F.col("value") * 100).cast("long")).select(
        "user_id", "event_type", "value", "ver", OP_COL, SEQ_COL, SEED_COL
    )
    v_changelog = replay(vb, v_schema, images=False)
    v_simple = v_changelog._sc._jvm.PythonSQLUtils.explainString(
        v_changelog._jdf.queryExecution(), "simple"
    )
    assert v_simple.count("Exchange") == 1, v_simple


def test_full_upsert_fold_is_single_shuffle(spark, sf_dir, tmp_path):
    """The FULL second-commit upsert transaction — seed read ∪ batch,
    __seq assignment, changelog fold with snapshot images, AND the
    fused commit-output plan (WAL offsets, touched-unit filter) — must cost
    exactly ONE hash exchange, keyed by __bucket and as wide as
    min(table buckets, touched buckets, cores). Every window is keyed
    __bucket[, pk] (bucket is a function of the pk), so they all reuse
    the fold's exchange; the seed rows ride the same exchange
    as re-emitted seed rows, so the snapshot is scanned ONCE and there
    is no semi-join at all. The fold windows order by the __seq
    numbering's own spec, so they share its sort (replay() keeps them
    in a second Window operator: 4 in all). This is the shape every
    non-default fold takes: replay() over the one fold input
    (`_fold_input_sql`)."""
    import re

    from fluss_spark.catalog import Catalog
    from fluss_spark.operators.replay import replay
    from fluss_spark.sources.kv import BUCKET_COL
    from fluss_spark.table import create_table

    ev = load(spark, sf_dir, "events").select("event_id", "user_id", "event_type", "value")
    schema = TableSchema(
        fields=[Field("user_id", "BIGINT"), Field("event_type", "STRING"), Field("value", "DOUBLE")],
        primary_key=["user_id"],
        num_buckets=8,
    )
    t = create_table(Catalog(str(tmp_path / "wh")), "db", "fold_plan", schema)
    t.upsert(ev.filter(F.col("event_id") % 2 == 0), ordering=["event_id"])
    batch = ev.filter(F.col("event_id") % 2 == 1)
    fold_sql, frames, seq_order = t.kv._fold_input_sql(
        spark, [batch], ["event_id"], None
    )
    changelog = replay(
        spark.sql(fold_sql, **frames), schema, may_have_deletes=False,
        cluster_cols=[BUCKET_COL], images=True, seq_order=seq_order,
    )
    simple = changelog._sc._jvm.PythonSQLUtils.explainString(
        changelog._jdf.queryExecution(), "simple"
    )
    assert len(re.findall(r"Exchange hashpartitioning", simple)) == 1, simple
    assert "BroadcastHashJoin" not in simple, simple

    # the COMPLETE commit-output plan adds zero exchanges on top
    state0 = t.kv.catalog.current_commit("db", "fold_plan")
    out, _persisted, _auto = t.kv._commit_plan(changelog, [123456], state0)
    # one scan of the snapshot, one scan of the batch (plus no broadcast)
    _pin_commit_plan(
        spark, out, _batch_buckets(t, batch), schema.num_buckets, scans=2, windows=4
    )


def test_sql_fold_commit_plan_single_shuffle(spark, sf_dir, tmp_path):
    """The default engine's one-statement SQL fold (`_fold`): the
    complete commit-output plan costs exactly ONE hash exchange keyed
    by __bucket and as wide as min(table buckets, touched buckets,
    cores), with the snapshot scanned once, the batch scanned once, no
    broadcast, one codegen'd generator, 2 sorts and 3 Window operators —
    the __seq numbering and the fold state share ONE key window, so
    each row is numbered and folded in one pass."""
    import re

    from fluss_spark.catalog import Catalog
    from fluss_spark.table import create_table

    ev = load(spark, sf_dir, "events").select("event_id", "user_id", "event_type", "value")
    schema = TableSchema(
        fields=[Field("user_id", "BIGINT"), Field("event_type", "STRING"), Field("value", "DOUBLE")],
        primary_key=["user_id"],
        num_buckets=8,
    )
    t = create_table(Catalog(str(tmp_path / "wh")), "db", "sql_fold_plan", schema)
    t.upsert(ev.filter(F.col("event_id") % 2 == 0), ordering=["event_id"])
    batch = ev.filter(F.col("event_id") % 2 == 1)
    assert t.kv._sql_fold_ok(batch, None, None)
    changelog = t.kv._fold(spark, [batch], ["event_id"], None)
    simple = changelog._sc._jvm.PythonSQLUtils.explainString(
        changelog._jdf.queryExecution(), "simple"
    )
    assert len(re.findall(r"Exchange hashpartitioning", simple)) == 1, simple
    assert "BroadcastHashJoin" not in simple, simple

    state0 = t.kv.catalog.current_commit("db", "sql_fold_plan")
    out, _persisted, _auto = t.kv._commit_plan(changelog, [123456], state0)
    _pin_commit_plan(spark, out, _batch_buckets(t, batch), schema.num_buckets, scans=2)


def test_group_commit_plan_single_shuffle(spark, sf_dir, tmp_path):
    """The GROUP fold (upsert_many: N batches through one transaction)
    keeps the single-exchange contract: the complete commit-output plan
    for a 3-batch group costs exactly ONE hash exchange keyed by
    __bucket and as wide as min(table buckets, touched buckets, cores),
    no broadcast, one codegen'd generator and 2 sorts, with the snapshot
    scanned once — the batch index only leads the window order and adds
    a write-partition level, never an exchange or a sort (its per-batch
    __seq numbering keys on __grp, so it keeps a window of its own: 4 in
    all)."""
    import re

    from fluss_spark.catalog import Catalog
    from fluss_spark.table import create_table

    ev = load(spark, sf_dir, "events").select("event_id", "user_id", "event_type", "value")
    schema = TableSchema(
        fields=[Field("user_id", "BIGINT"), Field("event_type", "STRING"), Field("value", "DOUBLE")],
        primary_key=["user_id"],
        num_buckets=8,
    )
    t = create_table(Catalog(str(tmp_path / "wh")), "db", "grp_fold_plan", schema)
    t.upsert(ev.filter(F.col("event_id") % 3 == 0), ordering=["event_id"])
    batches = [
        ev.filter(F.col("event_id") % 3 == 1),
        ev.filter(F.col("event_id") % 3 == 2),
        ev.filter(F.col("event_id") % 5 == 0),
    ]
    changelog = t.kv._fold(spark, batches, ["event_id"], None)
    simple = changelog._sc._jvm.PythonSQLUtils.explainString(
        changelog._jdf.queryExecution(), "simple"
    )
    assert len(re.findall(r"Exchange hashpartitioning", simple)) == 1, simple
    assert "BroadcastHashJoin" not in simple, simple

    state0 = t.kv.catalog.current_commit("db", "grp_fold_plan")
    out, _persisted, _auto = t.kv._commit_plan(changelog, [111, 222, 333], state0)
    # one snapshot scan + one scan per batch — the group adds batches,
    # never a second snapshot pass
    buckets = set().union(*(_batch_buckets(t, b) for b in batches))
    _pin_commit_plan(
        spark, out, buckets, schema.num_buckets, scans=1 + len(batches), windows=4
    )


def test_q5_broadcasts_all_dims(spark, sf_dir):
    """Six-table Q5: nation/region broadcast statically (bounded dims);
    customer/supplier carry no hint, so AQE broadcasts them at this SF —
    the FINAL adaptive plan shows every dim as a broadcast join. The
    date filter is pushed to the orders scan."""
    df = QUERIES["join_tpch_q5"](spark, sf_dir)
    assert "1996-01-01" in plans.pushed_filters(df) or "o_orderdate" in plans.pushed_filters(df)
    final = plans.final_plan(df)
    assert final.count("BroadcastHashJoin") >= 4
    assert final.count("SortMergeJoin") + final.count("ShuffledHashJoin") <= 1


def test_grouping_sets_single_pass(spark, sf_dir):
    """GROUPING SETS compiles to Expand + ONE hash aggregate pair over a
    single scan — not a union of per-set scans."""
    df = QUERIES["agg_grouping_sets"](spark, sf_dir)
    plan = plans.physical_plan(df)
    assert "Expand" in plan
    # exactly one scan (InMemoryFileIndex appears once per scan node's
    # detail block; "Scan parquet" also appears in the plan tree header)
    assert plan.count("InMemoryFileIndex") == 1
    assert plans.has_partial_aggregation(df)


def test_hyperplane_lsh_no_cartesian(spark, sf_dir):
    """Banded LSH candidates come from an equi-join on (band, bsig) —
    the corpus must never cross-join itself."""
    df = QUERIES["ann_hyperplane_lsh"](spark, sf_dir)
    plan = plans.physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q21_two_windows_one_fact_shuffle(spark, sf_dir):
    """Q21's two window passes share the l_orderkey partitioning — the
    physical plan has exactly ONE fact exchange (plus the tiny final
    per-name agg exchange); the supplier join has no hardcoded hint, so
    AQE picks broadcast at this SF (assert on the FINAL adaptive plan)."""
    df = QUERIES["join_tpch_q21"](spark, sf_dir)
    plan = plans.physical_plan(df)
    import re
    fact_exchanges = re.findall(r"hashpartitioning\(l_orderkey", plan)
    assert len(fact_exchanges) == 1, plan
    assert "CartesianProduct" not in plan
    assert plans.has_broadcast_join(df)


def test_q18_semi_join_before_wide_join(spark, sf_dir):
    """Q18 filters orders through a LeftSemi on the HAVING key set before
    the customer join touches anything."""
    df = QUERIES["join_tpch_q18"](spark, sf_dir)
    plan = plans.physical_plan(df)
    assert "LeftSemi" in plan
    assert "TakeOrderedAndProject" in plan  # top-100 without global sort


def test_q19_or_envelopes_pushed(spark, sf_dir):
    """Q19's disjunctive predicate: the single-side envelopes reach both
    scans (brand IN-list on part, quantity range on lineitem)."""
    df = QUERIES["join_tpch_q19"](spark, sf_dir)
    pf = plans.pushed_filters(df)
    plans.assert_contains(pf, "In(p_brand", "l_quantity")


def test_stratified_sample_map_side_only(spark, sf_dir):
    """Hash-based stratified sampling is a pure map-side filter: zero
    exchanges, and column pruning reaches the scan (doc_id + lang only —
    the fat text column is never read)."""
    df = QUERIES["tx_stratified_sample"](spark, sf_dir)
    plan = plans.physical_plan(df)
    assert plan.count("Exchange") == 0, plan
    rs = plans.read_schema(df)
    assert "text" not in rs and "doc_id" in rs and "lang" in rs


def test_blocklist_redact_map_side_only(spark, sf_dir):
    """Regex masking + match-count filter run in one codegen'd map stage:
    no exchange anywhere in the plan."""
    df = QUERIES["tx_blocklist_redact"](spark, sf_dir)
    plan = plans.physical_plan(df)
    assert plan.count("Exchange") == 0, plan
    assert plans.has_whole_stage_codegen(df)


def test_ivf_nprobe_broadcasts_probe_set(spark, sf_dir):
    """Multi-probe IVF: centroids and the per-query probe set are
    metadata-sized, so every join against the corpus broadcasts — the
    corpus side must never shuffle into a SortMergeJoin."""
    df = QUERIES["ann_ivf_nprobe"](spark, sf_dir)
    plan = plans.physical_plan(df)
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("BroadcastHashJoin") >= 1
    assert "CartesianProduct" not in plan


def test_minhash_estimate_no_cartesian(spark, sf_dir):
    """Sketch-audit pairs come from the banded equi-join; the corpus must
    never cross-join itself and the signature stage is computed once
    (persisted), not re-derived per join side."""
    df = QUERIES["dd_minhash_estimate"](spark, sf_dir)
    plan = plans.physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pii_scrub_map_side_only(spark, sf_dir):
    """PII scrub is one codegen'd map stage: regex counts + redaction
    chain + fingerprint, zero exchanges at any corpus size."""
    df = QUERIES["tx_pii_scrub"](spark, sf_dir)
    plan = plans.physical_plan(df)
    assert plan.count("Exchange") == 0, plan


def test_passage_dedup_single_shuffle(spark, sf_dir):
    """Passage dedup's only exchange is the first-occurrence window on
    the 16-byte fingerprint — chunking/explosion happen map-side
    (the load_spread persist pins the input layout; nothing else
    may shuffle)."""
    df = QUERIES["dd_passage_dedup"](spark, sf_dir)
    plan = plans.physical_plan(df)
    # the only query-owned exchange is the fp hash partition; the
    # round-robin exchange inside InMemoryRelation is the shared
    # persisted load_spread stage, not per-query work
    assert plan.count("ENSURE_REQUIREMENTS") == 1, plan
    assert "hashpartitioning(chunk_fp" in plan, plan
    # Spark plans a PARTIAL WindowGroupLimit: top-1-per-fp reduces
    # map-side BEFORE the shuffle — the property that keeps the
    # exchange linear in distinct passages, not total passages
    assert "row_number(), 1, Partial" in plan, plan


def test_sq8_rerank_broadcasts_no_shuffle_scan(spark, sf_dir):
    """SQ8: the 1-row quantizer stats and the query set broadcast; the
    corpus scan itself never shuffles into a SortMergeJoin. The only
    exchanges are the two per-query top-N rank reductions."""
    df = QUERIES["ann_sq8_rerank"](spark, sf_dir)
    plan = plans.physical_plan(df)
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_pq_adc_broadcast_training(spark, sf_dir):
    """PQ training/encoding must broadcast the codebooks (metadata-sized)
    and never shuffle the corpus into a SortMergeJoin or cross-join it;
    the assignment argmin aggregates with map-side partials."""
    df = QUERIES["ann_pq_adc"](spark, sf_dir)
    plan = plans.physical_plan(df)
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastHashJoin") >= 2, plan


def test_curation_pipeline_single_shuffle(spark, sf_dir):
    """The composed curation funnel (quality -> dedup -> sample ->
    funnel counts) costs ONE corpus exchange — the fingerprint window
    for canonical election; the final scalar aggregate reduces
    map-side partials."""
    df = QUERIES["tx_curation_pipeline"](spark, sf_dir)
    plan = plans.physical_plan(df)
    assert "hashpartitioning(fp" in plan, plan
    # exchanges: the fp window + the single-partition gather of the
    # scalar aggregate's partials (which carries ONE row per task)
    assert plan.count("ENSURE_REQUIREMENTS") <= 2, plan
    assert plans.has_partial_aggregation(df)


def test_semdedup_no_cartesian_single_cell_shuffle(spark, sf_dir):
    """dd_semdedup's prune is one exchange on the cell id feeding the
    per-cell kernel — never a pairwise self-join of the corpus."""
    df = QUERIES["dd_semdedup"](spark, sf_dir)
    plan = plans.physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "FlatMapGroupsInPandas" in plan  # the chunked BLAS prune kernel


def test_perplexity_buckets_broadcast_stats(spark, sf_dir):
    """The bucket edges come from a 1-row stats aggregate broadcast back
    onto the scored corpus — bucket stamping adds no exchange beyond the
    score's own shuffles (term freq + per-doc reduce)."""
    df = QUERIES["tx_perplexity_buckets"](spark, sf_dir)
    assert plans.has_broadcast_join(df)
    plan = plans.physical_plan(df)
    assert "CartesianProduct" not in plan


def test_temperature_sample_map_side_filter(spark, sf_dir):
    """tx_temperature_sample keeps rows via a broadcast rate join + PRF
    filter: the corpus is never hash-exchanged on a row key — the only
    exchanges belong to the domain-sized aggregates and the final
    per-source reduce."""
    df = QUERIES["tx_temperature_sample"](spark, sf_dir)
    assert plans.has_broadcast_join(df)
    plan = plans.physical_plan(df)
    assert "CartesianProduct" not in plan
    # no exchange keyed on doc_id: the per-row keep decision is map-side
    assert "hashpartitioning(doc_id" not in plan


def test_chunk_sliding_zero_exchange(spark, sf_dir):
    """RAG chunking is a pure generate (sequence+explode+slice): zero
    exchanges, linear in chunks."""
    df = QUERIES["tx_chunk_sliding"](spark, sf_dir)
    plan = plans.physical_plan(df)
    assert plan.count("Exchange") == 0, plan
    assert "Generate" in plan


def test_bm25_broadcasts_stats_no_corpus_sort_join(spark, sf_dir):
    """BM25: df and corpus stats are metadata-sized broadcasts; the
    corpus never shuffles into a SortMergeJoin and never cross-joins
    itself (the stats cross-join is a 1-row broadcast)."""
    df = QUERIES["bm25_topk"](spark, sf_dir)
    plan = plans.physical_plan(df)
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") + plan.count("BroadcastNestedLoopJoin") >= 2


def test_quality_classifier_training_is_partial_aggregation(spark, sf_dir):
    """Each training step must be ONE map-side-combinable aggregation:
    partial_ functions below the exchange (the gradient sums reduce
    before the shuffle; the shuffle carries 32 partial rows, not the
    corpus)."""
    from fluss_spark.operators.model import _feature_cols

    d = load(spark, sf_dir, "documents")
    fc = _feature_cols()
    feats = d.select(
        "doc_id", fc["y"].alias("y"), fc["x1"].alias("x1"),
        fc["x2"].alias("x2"), fc["x3"].alias("x3"),
    )
    agg = feats.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor((F.col("y") - 0.5) * 1e6 + 0.5).cast("bigint")).alias("g0"),
    )
    plan = plans.physical_plan(agg)
    assert "partial_count" in plan or "partial_sum" in plan, plan


def test_boilerplate_removal_broadcast_anti_join(spark, sf_dir):
    """tx_boilerplate_removal: the boilerplate set broadcasts into the
    anti-join (never a shuffled join of the exploded corpus against
    itself), no cartesian anywhere."""
    df = QUERIES["tx_boilerplate_removal"](spark, sf_dir)
    plan = plans.physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan


def test_bigram_logloss_shuffle_join_no_cartesian(spark, sf_dir):
    """tx_bigram_logloss: the bigram-count join stays an equi-join (the
    bigram table is vocab²-bounded, NOT assumed broadcastable — the
    100-TB stance), the smoothing stat broadcasts, no cartesian."""
    df = QUERIES["tx_bigram_logloss"](spark, sf_dir)
    plan = plans.physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
    assert "hashpartitioning(b" in plan, plan  # the bigram-key exchange


def test_dataset_card_partial_aggregation(spark, sf_dir):
    """tx_dataset_card reduces map-side: one pass over the corpus with
    partial aggregation before the source-keyed exchange."""
    df = QUERIES["tx_dataset_card"](spark, sf_dir)
    assert plans.has_partial_aggregation(df)
    assert "CartesianProduct" not in plans.physical_plan(df)


def test_gopher_rules_zero_exchange(spark, sf_dir):
    """tx_gopher_rules is a pure map-side pass: every rule evaluates in
    JVM array HOFs over the scan, no exchange, no Python."""
    df = QUERIES["tx_gopher_rules"](spark, sf_dir)
    plan = plans.physical_plan(df)
    assert "Exchange" not in plan, plan
    assert "Python" not in plan and "ArrowEval" not in plan, plan


def test_split_leakage_safe_linear_plan(spark, sf_dir):
    """tx_split_leakage_safe: the cluster attach is one doc_id
    equi-join over the lsh stages — no cartesian, no pairwise joins."""
    df = QUERIES["tx_split_leakage_safe"](spark, sf_dir)
    plan = plans.physical_plan(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan
    assert plans.has_partial_aggregation(df)


def test_incremental_lsh_probe_is_equijoin(spark, sf_dir):
    """dd_incremental_lsh: the batch probes the stored band index with
    an equi-join on (band, band_sig) — never a cartesian — and the
    final attach is a doc_id equi-join."""
    df = QUERIES["dd_incremental_lsh"](spark, sf_dir)
    plan = plans.physical_plan(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan


def test_scd2_single_window_exchange(spark, sf_dir):
    """t13_scd2_history: both windows (row_number + lead) share ONE
    user_id exchange over the changelog scan — no self-joins."""
    df = QUERIES["t13_scd2_history"](spark, sf_dir)
    plan = plans.physical_plan(df)
    assert "Join" not in plan, plan
    assert plan.count("hashpartitioning(user_id") == 1, plan


def test_incremental_ivf_probe_is_cell_equijoin(spark, sf_dir):
    """ann_incremental_ivf: the new batch probes the stored cell index
    with equi-joins (cell, then vec_id lookup-join) — never a cartesian
    or nested-loop pass over the corpus."""
    df = QUERIES["ann_incremental_ivf"](spark, sf_dir)
    plan = plans.physical_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_dsir_lm_broadcast_no_cartesian(spark, sf_dir):
    """tx_dsir_resample: the feature LMs are metadata-sized broadcasts
    (256-row LM hash-join + 1-row totals), the corpus never cross-joins
    itself, and the doc-keyed score sum combines map-side."""
    df = QUERIES["tx_dsir_resample"](spark, sf_dir)
    plan = plans.physical_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert plans.has_partial_aggregation(df)


def test_attribution_single_window_exchange(spark, sf_dir):
    """op_attribution: all three carry-forward last-values share ONE
    user_id exchange and sort — no self-joins."""
    df = QUERIES["op_attribution"](spark, sf_dir)
    plan = plans.physical_plan(df)
    assert "Join" not in plan, plan
    assert plan.count("hashpartitioning(user_id") == 1, plan


def test_ngram_novelty_no_cartesian_partial_agg(spark, sf_dir):
    """tx_ngram_novelty: first-occurrence is a shingle-id aggregation
    joined back by id — equi-joins only, map-side partial counts."""
    df = QUERIES["tx_ngram_novelty"](spark, sf_dir)
    plan = plans.physical_plan(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan
    assert plans.has_partial_aggregation(df)
