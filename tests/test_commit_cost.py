"""Per-commit fixed cost of the fused PK commit, pinned as counts that do
not drift with machine load: Spark jobs per client flush and per
upsert of a local batch, tasks in the write stage and classes compiled
by a steady-state commit. Plus the consistency guard for the fold's one shared
sort (rows tied in a user `ordering`) and the snapshot-dir cache key."""

from __future__ import annotations

import random
import uuid

from fluss_spark.client import connect
from fluss_spark.table import FlussTable
from fluss_spark.types import Field, TableSchema


def _table(tmp_path, name, num_buckets=16):
    """(client facade, engine table) of a fresh `k BIGINT` pk table."""
    conn = connect(str(tmp_path / "wh"))
    conn.get_admin().create_table(
        "db", name,
        TableSchema(
            fields=[Field("k", "BIGINT"), Field("v", "STRING"), Field("o", "INT")],
            primary_key=["k"], num_buckets=num_buckets,
            # no auto-compaction job after a commit: counts cover the commit
            properties={"table.snapshot.auto-compact-dirs": "0"},
        ),
    )
    return conn.get_table("db", name), FlussTable(conn.catalog, "db", name)


def _run_jobs(spark, fn):
    """Run `fn` under a fresh job group; return its Spark jobs as
    [(job id, [(stage id, task count), ...] in stage order)]."""
    sc = spark.sparkContext
    group = f"commit-cost-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "commit cost probe")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # job ends reach the tracker
    tracker = sc.statusTracker()
    jobs = []
    for j in sorted(tracker.getJobIdsForGroup(group)):
        stages = sorted(tracker.getJobInfo(j).stageIds)
        jobs.append((j, [(s, tracker.getStageInfo(s).numTasks) for s in stages]))
    return jobs


def _snapshot(table, spark):
    return {
        r["k"]: (r["v"], r["o"])
        for r in table.new_scan().create_batch_scanner(spark).collect()
    }


def test_one_bucket_flush_runs_one_write_task(spark, tmp_path):
    """A trickle flush of one key on a 16-bucket table touches one
    bucket, so its write stage (the last stage of the commit's one write
    job) runs one task, not one per table bucket."""
    table, _t = _table(tmp_path, "trickle")
    w = table.new_upsert().create_writer(spark)
    for k in range(64):
        w.upsert({"k": k, "v": f"v{k}", "o": 0})
    w.flush()

    w.upsert({"k": 7, "v": "x", "o": 1})
    jobs = _run_jobs(spark, w.flush)
    assert len(jobs) == 1, jobs
    _job, stages = jobs[0]
    assert stages[-1][1] == 1, stages
    assert _snapshot(table, spark)[7] == ("x", 1)


def test_client_flush_skips_scope_discovery(spark, tmp_path):
    """An unpartitioned client flush routes its drained rows in Python
    and hands the commit their buckets: one Spark job fewer than the same
    batch upserted without them (which discovers the buckets with a
    job), and the table still equals a dict model through upserts,
    updates and deletes of present and absent keys."""
    table, engine = _table(tmp_path, "flush")
    w = table.new_upsert().create_writer(spark)
    model: dict = {}
    rng = random.Random(7)
    for k in range(40):
        w.upsert({"k": k, "v": f"v{k}", "o": 0})
        model[k] = (f"v{k}", 0)
    w.flush()

    for rnd in range(4):
        ops = []
        for _ in range(6):
            k = rng.randrange(60)  # keys >= 40 may be absent
            if rng.random() < 0.35:
                w.delete({"k": k})
                ops.append((k, None, None, "D"))
                model.pop(k, None)
            else:
                w.upsert({"k": k, "v": f"r{rnd}", "o": rnd})
                ops.append((k, f"r{rnd}", rnd, "U"))
                model[k] = (f"r{rnd}", rnd)
        w.delete({"k": 1000 + rnd})  # a key that never existed
        ops.append((1000 + rnd, None, None, "D"))
        flush_jobs = _run_jobs(spark, w.flush)
        assert _snapshot(table, spark) == model, rnd
        # the same batch upserted again with no bucket hint (a no-op on
        # the table): it discovers its buckets with one more job
        again = spark.createDataFrame(
            [(*op, i) for i, op in enumerate(ops)],
            "k bigint, v string, o int, __op string, __client_seq bigint",
        )
        direct_jobs = _run_jobs(
            spark, lambda: engine.upsert(again, ordering=["__client_seq"])
        )
        assert len(flush_jobs) == len(direct_jobs) - 1, (flush_jobs, direct_jobs)
        assert _snapshot(table, spark) == model, rnd


def _pandas_batch(spark, keys, tag):
    import pandas as pd

    return spark.createDataFrame(
        pd.DataFrame({"k": keys, "v": [f"{tag}{k}" for k in keys], "o": [1] * len(keys)})
    )


def test_local_batch_skips_scope_discovery(spark, tmp_path):
    """A pandas-built batch is a local relation: the commit collects its
    key columns with no job and routes them in Python, so the upsert
    runs only its write job — against the discovery job plus the write
    for the same rows built from a list (an RDD-backed frame)."""
    _client, engine = _table(tmp_path, "local")
    engine.upsert(_pandas_batch(spark, list(range(64)), "v"))
    local = _pandas_batch(spark, [3, 17, 40, 90], "p")
    assert local.isLocal()
    jobs = _run_jobs(spark, lambda: engine.upsert(local))
    assert len(jobs) == 1, jobs
    listed = spark.createDataFrame(
        [(k, f"l{k}", 2) for k in (5, 17, 91)], "k bigint, v string, o int"
    )
    assert not listed.isLocal()
    assert len(_run_jobs(spark, lambda: engine.upsert(listed))) == 2
    got = {r["k"]: r["v"] for r in engine.snapshot(spark).collect()}
    assert len(got) == 66
    assert (got[3], got[5], got[17], got[40], got[90], got[91]) == (
        "p3", "l5", "l17", "p40", "p90", "l91",
    )


def test_steady_state_commit_compiles_no_classes(spark, tmp_path):
    """The commit's own values — timestamp, offset bases — enter the plan
    as map literals, which generated code holds as reference objects:
    the second of two same-shape commits compiles no new class."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    _client, engine = _table(tmp_path, "codegen")
    engine.upsert(_pandas_batch(spark, list(range(64)), "v"))
    engine.upsert(_pandas_batch(spark, list(range(0, 80, 3)), "a"))
    before = metrics.METRIC_COMPILATION_TIME().getCount()
    engine.upsert(_pandas_batch(spark, list(range(1, 80, 3)), "b"))
    assert metrics.METRIC_COMPILATION_TIME().getCount() - before == 0


def _changelog_consistent(client, table, spark):
    """Walk the WAL per key in offset order: every -U and -D carries the
    key's previous +I/+U image and every +I starts from no image; the
    last image per key equals snapshot()."""
    rows = sorted(
        table.changelog(spark).collect(),
        key=lambda r: (r["__bucket"], r["_log_offset"]),
    )
    image: dict = {}
    for r in rows:
        k, ct, row = r["k"], r["_change_type"], (r["v"], r["o"])
        if ct == "+I":
            assert k not in image, r
            image[k] = row
        elif ct in ("-U", "-D"):
            assert image.get(k) == row, (r, image.get(k))
            if ct == "-D":
                del image[k]
        else:
            assert ct == "+U" and k in image, r
            image[k] = row
    assert image == _snapshot(client, spark)


def test_ordering_ties_keep_changelog_consistent(spark, tmp_path):
    """Rows of one key that tie in the user `ordering` fold in one
    order, and the __seq numbering and the fold windows agree on it:
    each -U is the image the key really had. Covers the one-statement
    fold (plain upsert), its group form (upsert_many) and the layered
    fold (partial update)."""
    client, table = _table(tmp_path, "ties", num_buckets=4)
    ddl = "k bigint, v string, o int"
    table.upsert(
        spark.createDataFrame([(k, f"s{k}", 0) for k in range(8)], ddl),
        ordering=["o"],
    )

    def batch(tag):
        rows = []
        for k in range(10):
            for i in range(4):
                rows.append((k, f"{tag}{k}.{i}", 5 if i != 2 else 3))
        return spark.createDataFrame(rows, ddl).repartition(4)

    table.upsert(batch("a"), ordering=["o"])
    _changelog_consistent(client, table, spark)
    table.kv.upsert_many([batch("b"), batch("c"), batch("d")], ordering=["o"])
    _changelog_consistent(client, table, spark)
    # an ordering column outside the table, every row of a key tied
    table.upsert(
        spark.createDataFrame(
            [(k, f"p{k}.{i}", 1) for k in range(10) for i in range(3)],
            "k bigint, v string, t int",
        ).repartition(4),
        ordering=["t"],
        partial_update_cols=["k", "v"],
    )
    _changelog_consistent(client, table, spark)


def test_snapshot_dir_cache_is_keyed_on_session(spark, tmp_path, monkeypatch):
    """A snapshot dir's analyzed frame is cached per session key
    (applicationId), not per id(spark): a new session may reuse a
    collected session's id and must not get a frame bound to a dead
    context."""
    from fluss_spark.sources import kv as kv_mod

    _client, table = _table(tmp_path, "cache", num_buckets=2)
    table.upsert(spark.createDataFrame([(1, "a", 0), (2, "b", 0)], "k bigint, v string, o int"))
    state = table.catalog.current_commit("db", "cache")
    data_dir = sorted(set(table.kv._manifest(state.snapshot_version).values()))[0]
    first = table.kv._read_snapshot_dir(spark, data_dir)
    assert table.kv._read_snapshot_dir(spark, data_dir) is first
    monkeypatch.setattr(kv_mod, "session_key", lambda s: "another-application")
    assert table.kv._read_snapshot_dir(spark, data_dir) is not first
