"""Streaming tests (T1-T7): startup modes, per-bucket offset resume,
hybrid snapshot+log handoff, exactly-once sink idempotence, watermarked
windowed aggregation over the native file stream."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fluss_spark.catalog import Catalog
from fluss_spark.streaming.reader import LogStreamReader, read_stream
from fluss_spark.streaming.sink import append_sink, to_upsert_view, upsert_sink
from fluss_spark.table import create_table
from fluss_spark.types import Field, TableSchema


@pytest.fixture()
def catalog(tmp_path):
    return Catalog(str(tmp_path / "wh"))


def _log_schema():
    return TableSchema(fields=[Field("a", "INT"), Field("b", "STRING")], num_buckets=3)


def test_micro_batch_poll_and_resume(spark, catalog, tmp_path):
    t = create_table(catalog, "db", "s_log", _log_schema())
    ckpt = str(tmp_path / "ckpt")
    reader = LogStreamReader(t, spark, checkpoint_dir=ckpt, startup_mode="earliest")

    seen: list[tuple[int, int]] = []
    t.append(spark.createDataFrame([(1, "x"), (2, "y")], "a int, b string"), ordering=["a"])
    assert reader.process_available(lambda df, bid: seen.append((bid, df.count()))) == 1
    t.append(spark.createDataFrame([(3, "z")], "a int, b string"), ordering=["a"])
    t.append(spark.createDataFrame([(4, "w")], "a int, b string"), ordering=["a"])
    assert reader.process_available(lambda df, bid: seen.append((bid, df.count()))) == 1
    assert seen == [(0, 2), (1, 2)]  # second poll covers both commits

    # resume from checkpoint in a new reader: nothing new
    reader2 = LogStreamReader(t, spark, checkpoint_dir=ckpt)
    assert reader2.process_available(lambda df, bid: seen.append((bid, df.count()))) == 0
    t.append(spark.createDataFrame([(5, "v")], "a int, b string"), ordering=["a"])
    assert reader2.process_available(lambda df, bid: seen.append((bid, df.count()))) == 1
    assert seen[-1] == (2, 1)


def test_startup_modes(spark, catalog):
    t = create_table(catalog, "db", "s_modes", _log_schema())
    t.append(spark.createDataFrame([(1, "old")], "a int, b string"), commit_ts_ms=1000)
    t.append(spark.createDataFrame([(2, "mid")], "a int, b string"), commit_ts_ms=2000)

    counts = {}
    for mode, ts in [("earliest", None), ("latest", None), ("timestamp", 1500)]:
        r = LogStreamReader(t, spark, startup_mode=mode, startup_timestamp_ms=ts)
        total = []
        r.process_available(lambda df, bid: total.append(df.count()))
        counts[mode] = sum(total)
    assert counts["earliest"] == 2
    assert counts["latest"] == 0
    assert counts["timestamp"] == 1  # only the ts>=1500 commit

    # latest mode sees post-subscription appends
    r = LogStreamReader(t, spark, startup_mode="latest")
    r.process_available(lambda df, bid: None)
    t.append(spark.createDataFrame([(3, "new")], "a int, b string"))
    got = []
    r.process_available(lambda df, bid: got.append(df.count()))
    assert sum(got) == 1


def test_hybrid_snapshot_then_log(spark, catalog):
    schema = TableSchema(
        fields=[Field("k", "INT", nullable=False), Field("v", "STRING")],
        primary_key=["k"],
        num_buckets=2,
    )
    t = create_table(catalog, "db", "s_pk", schema)
    t.upsert(spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"))

    r = LogStreamReader(t, spark, startup_mode="full")
    batches = []
    r.process_available(lambda df, bid: batches.append((bid, sorted(map(tuple, df.select("k", "v", "_change_type").collect())))))
    # batch 0 = snapshot as +I rows; no log tail yet
    assert batches == [(0, [(1, "a", "+I"), (2, "b", "+I")])]

    # subsequent upsert arrives as changelog
    t.upsert(spark.createDataFrame([(1, "a2")], "k int, v string"))
    r.process_available(lambda df, bid: batches.append((bid, sorted(map(tuple, df.select("k", "v", "_change_type").collect())))))
    assert batches[1] == (1, [(1, "a", "-U"), (1, "a2", "+U")])


def test_sink_idempotence(spark, catalog):
    t = create_table(catalog, "db", "s_sink", _log_schema())
    sink = append_sink(t, "job1", ordering=["a"])
    df = spark.createDataFrame([(1, "x")], "a int, b string")
    sink(df, 0)
    sink(df, 0)  # replayed epoch must be a no-op
    sink(df, 1)
    assert t.scan(spark).count() == 2


def test_stream_pipeline_log_to_pk(spark, catalog):
    """events chunks -> log table -> micro-batch reader -> upsert sink ->
    PK snapshot equals batch last-per-key (the upsert view invariant)."""
    from fluss_spark.registry import load

    ev = load(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "user_id", F.col("event_type").alias("et")
    ).limit(300)
    src = create_table(
        catalog, "db", "s_src",
        TableSchema(fields=[Field("event_id", "BIGINT"), Field("user_id", "BIGINT"), Field("et", "STRING")], num_buckets=2),
    )
    dst = create_table(
        catalog, "db", "s_dst",
        TableSchema(
            fields=[Field("user_id", "BIGINT"), Field("et", "STRING"), Field("event_id", "BIGINT")],
            primary_key=["user_id"], num_buckets=2,
        ),
    )
    reader = LogStreamReader(src, spark, startup_mode="earliest")
    sink = upsert_sink(dst, "replicate", ordering=["event_id"])
    for lo, hi in [(0, 100), (100, 200), (200, 300)]:
        src.append(ev.filter((F.col("event_id") >= lo) & (F.col("event_id") < hi)), ordering=["event_id"])
        reader.process_available(sink)

    expected = (
        ev.withColumn("rn", F.row_number().over(
            __import__("pyspark.sql.window", fromlist=["Window"]).Window.partitionBy("user_id").orderBy(F.col("event_id").desc())
        )).filter("rn = 1").select("user_id", "et", "event_id")
    )
    got = dst.snapshot(spark).select("user_id", "et", "event_id")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, expected.collect()))
    # consumer-side upsert view over the changelog agrees with the snapshot
    uv = to_upsert_view(dst.changelog(spark), ["user_id"]).select("user_id", "et", "event_id")
    assert sorted(map(tuple, uv.collect())) == sorted(map(tuple, got.collect()))


def test_native_stream_windowed_agg(spark, catalog, tmp_path):
    """T5: watermark + tumbling window over the native file stream,
    availableNow trigger, compared against the batch equivalent."""
    t = create_table(
        catalog, "db", "s_win",
        TableSchema(fields=[Field("event_id", "BIGINT"), Field("ts", "TIMESTAMP_LTZ"), Field("value", "DOUBLE")], num_buckets=2),
    )
    from fluss_spark.registry import load

    ev = load(spark, "/root/testdata/sf0.001", "events").select("event_id", "ts", "value").limit(500)
    t.append(ev, ordering=["event_id"])

    sdf = read_stream(t, spark)
    agg = (
        sdf.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sv"))
        .select(F.col("window.start").alias("h"), "n", "sv")
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("win_out")
        .option("checkpointLocation", str(tmp_path / "wckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(map(tuple, spark.sql("SELECT * FROM win_out").collect()))
    expected = sorted(
        map(
            tuple,
            t.scan(spark)
            .groupBy(F.window("ts", "1 hour"))
            .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sv"))
            .select(F.col("window.start").alias("h"), "n", "sv")
            .collect(),
        )
    )
    assert got == expected


@pytest.mark.slow
def test_stateful_sessionize_stream(spark, catalog, tmp_path):
    """applyInPandasWithState gap sessions: closed sessions emitted as
    state evolves across micro-batches; compared against the batch
    sessionization for sessions that closed."""
    from fluss_spark.registry import load
    from fluss_spark.streaming.stateful import sessionize_stream

    t = create_table(
        catalog, "db", "s_state",
        TableSchema(fields=[Field("user_id", "BIGINT"), Field("ts", "TIMESTAMP_LTZ"), Field("value", "DOUBLE")], num_buckets=2),
    )
    ev = load(spark, "/root/testdata/sf0.001", "events").select("user_id", "ts", "value").filter("user_id < 5")
    t.append(ev, ordering=["ts"])

    from fluss_spark.streaming.reader import read_stream

    sdf = read_stream(t, spark).select("user_id", "ts", "value")
    out = sessionize_stream(sdf, gap_minutes=30)
    # 2 state partitions for the test: state-store setup/commit cost is
    # per partition per micro-batch and dominates at toy volume (the
    # operator itself is partition-count-agnostic)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    try:
        q = (
            out.writeStream.outputMode("append")
            .format("memory").queryName("sess_out")
            .option("checkpointLocation", str(tmp_path / "sckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    got = spark.sql("SELECT * FROM sess_out").collect()

    # batch truth: gap sessions per user (only sessions that CLOSED
    # before the last event of that user can have been emitted)
    from pyspark.sql.window import Window as W

    w = W.partitionBy("user_id").orderBy("ts")
    run = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    batch = (
        ev.withColumn("gap", F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w))
        .withColumn("new", F.when(F.col("gap").isNull() | (F.col("gap") > 1800), 1).otherwise(0))
        .withColumn("sid", F.sum("new").over(run))
        .groupBy("user_id", "sid")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
    )
    batch_counts = {(r["user_id"], r["n_events"], float(r["sum_value"])) for r in batch.collect()}
    assert len(got) > 0
    for r in got:
        key = (r["user_id"], r["n_events"], round(r["sum_value"], 2))
        assert key in batch_counts, f"emitted session {key} not in batch truth"


@pytest.mark.slow
def test_stream_batch_sessionize_equality_sf01(spark, catalog, tmp_path):
    """Batch/stream EQUALITY at sf0.1: the stateful stream sessionizer
    over the full 100k-event table (availableNow) must emit exactly the
    sessions the batch operator computes. Per-user sentinel events
    (2 hours after each user's last event — beyond the 30-minute gap)
    close every real session; the sentinel sessions themselves stay open
    in state and are never emitted, so emitted == batch, as sets and
    values."""
    from fluss_spark.registry import QUERIES, load, load_all_queries
    from fluss_spark.streaming.stateful import sessionize_stream

    load_all_queries()
    sf = "/root/testdata/sf0.1"
    ev = load(spark, sf, "events").select("user_id", "ts", "value")
    t = create_table(
        catalog, "db", "s_parity",
        TableSchema(
            fields=[Field("user_id", "BIGINT"), Field("ts", "TIMESTAMP_LTZ"), Field("value", "DOUBLE")],
            num_buckets=4,
        ),
    )
    t.append(ev, ordering=["ts"])
    sentinels = (
        ev.groupBy("user_id")
        .agg((F.max("ts") + F.expr("INTERVAL 2 HOURS")).alias("ts"))
        .withColumn("value", F.lit(0.0))
        .select("user_id", "ts", "value")
    )
    t.append(sentinels, ordering=["ts"])

    sdf = read_stream(t, spark).select("user_id", "ts", "value")
    out = sessionize_stream(sdf, gap_minutes=30)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    try:
        q = (
            out.writeStream.outputMode("append")
            .format("memory").queryName("sess_parity")
            .option("checkpointLocation", str(tmp_path / "spckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(600)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)

    got = {
        (r["user_id"], r["session_start"]): (r["n_events"], r["sum_value"])
        for r in spark.sql("SELECT * FROM sess_parity").collect()
    }
    batch = {
        (r["user_id"], r["session_start"]): (r["n_events"], float(r["sum_value"]))
        for r in QUERIES["op_sessionize"](spark, sf).collect()
    }
    assert len(got) == len(batch) > 10_000
    assert set(got) == set(batch)
    for k, (n, s) in batch.items():
        gn, gs = got[k]
        assert gn == n, (k, gn, n)
        # values are 2-decimal, so the true session sum is a multiple of
        # 0.01 — rounding both sides to 2dp absorbs summation-order fp
        # noise with no boundary ambiguity
        assert abs(round(gs, 2) - s) < 1e-9, (k, gs, s)


def test_stream_stream_join_l5(spark, catalog, tmp_path):
    """L5 delta-join equivalent: two engine log streams joined
    stream-stream with watermarks + a time-range constraint (Spark owns
    the join state; the reference offloads it to Fluss indexes —
    Flink22DeltaJoinITCase). availableNow over both file streams."""
    from fluss_spark.registry import load

    ev = load(spark, "/root/testdata/sf0.001", "events").select("event_id", "user_id", "ts", "value")
    left = create_table(
        catalog, "db", "ss_l",
        TableSchema(fields=[Field("event_id", "BIGINT"), Field("user_id", "BIGINT"), Field("ts", "TIMESTAMP_LTZ"), Field("value", "DOUBLE")], num_buckets=2),
    )
    right = create_table(
        catalog, "db", "ss_r",
        TableSchema(fields=[Field("event_id", "BIGINT"), Field("user_id", "BIGINT"), Field("ts", "TIMESTAMP_LTZ"), Field("value", "DOUBLE")], num_buckets=2),
    )
    left.append(ev.filter("event_id % 2 = 0").limit(200), ordering=["event_id"])
    right.append(ev.filter("event_id % 2 = 1").limit(200), ordering=["event_id"])

    l = read_stream(left, spark).select(
        F.col("user_id").alias("l_user"), F.col("event_id").alias("l_id"), F.col("ts").alias("l_ts")
    ).withWatermark("l_ts", "1 hour")
    r = read_stream(right, spark).select(
        F.col("user_id").alias("r_user"), F.col("event_id").alias("r_id"), F.col("ts").alias("r_ts")
    ).withWatermark("r_ts", "1 hour")
    joined = l.join(
        r,
        (F.col("l_user") == F.col("r_user"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr("INTERVAL 2 HOURS")),
    )
    q = (
        joined.writeStream.outputMode("append")
        .format("memory").queryName("ss_join")
        .option("checkpointLocation", str(tmp_path / "ssj"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = spark.sql("SELECT l_id, r_id FROM ss_join").collect()

    # batch truth
    lb = left.scan(spark).select(F.col("user_id").alias("l_user"), F.col("event_id").alias("l_id"), F.col("ts").alias("l_ts"))
    rb = right.scan(spark).select(F.col("user_id").alias("r_user"), F.col("event_id").alias("r_id"), F.col("ts").alias("r_ts"))
    expected = lb.join(
        rb,
        (F.col("l_user") == F.col("r_user"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr("INTERVAL 2 HOURS")),
    ).select("l_id", "r_id").collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, expected))
    assert len(got) > 0


def test_stream_dedup_within_watermark(spark, catalog, tmp_path):
    """Streaming exact dedup: dropDuplicatesWithinWatermark on the doc
    fingerprint over the engine's file stream — the streaming half of
    dd_exact (state is bounded by the watermark, so a 100 TB/day stream
    holds hours of fingerprints, not the corpus)."""
    t = create_table(
        catalog, "db", "s_dedup",
        TableSchema(
            fields=[
                Field("doc_id", "BIGINT"),
                Field("ts", "TIMESTAMP_LTZ"),
                Field("fp", "STRING"),
            ],
            num_buckets=2,
        ),
    )
    rows = [
        (1, "2024-01-01 00:00:00", "aaa"),
        (2, "2024-01-01 00:01:00", "bbb"),
        (3, "2024-01-01 00:02:00", "aaa"),  # dup of doc 1
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, ts string, fp string").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    t.append(df, ordering=["doc_id"])
    # second commit: another dup + one new fingerprint
    rows2 = [
        (4, "2024-01-01 00:03:00", "bbb"),
        (5, "2024-01-01 00:04:00", "ccc"),
    ]
    df2 = spark.createDataFrame(rows2, "doc_id bigint, ts string, fp string").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    t.append(df2, ordering=["doc_id"])

    sdf = read_stream(t, spark).select("doc_id", "ts", "fp")
    deduped = sdf.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(["fp"])
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_out")
        .option("checkpointLocation", str(tmp_path / "dckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT fp, count(*) AS n FROM dedup_out GROUP BY fp").collect()
    assert {r["fp"]: r["n"] for r in got} == {"aaa": 1, "bbb": 1, "ccc": 1}


def test_sink_crash_windows_exactly_once(spark, catalog):
    """The marker protocol's two crash windows: (a) crash AFTER the
    engine commit but BEFORE the marker finalize -> the replayed epoch
    must be recognized as applied (the old record-after-commit order
    double-applied here); (b) crash after staging the pending marker
    but BEFORE the commit -> the replayed epoch must re-apply."""
    import json

    from fluss_spark.streaming.sink import _marker_path, _resolve_marker, _stage_pending

    t = create_table(catalog, "db", "s_crash", _log_schema())
    sink = append_sink(t, "jobX", ordering=["a"])
    df = spark.createDataFrame([(1, "x"), (2, "y")], "a int, b string")
    sink(df, 0)
    assert t.scan(spark).count() == 2

    # (a) simulate: batch 1 committed, finalize never ran — rebuild the
    # marker to its mid-protocol state (pending pointing at the commit
    # the append below creates), run the append, then "crash"
    last = _resolve_marker(t, "jobX")
    _stage_pending(t, "jobX", last, 1)
    t.append(df, ordering=["a"])          # the data commit landed
    # marker still pending -> replay of batch 1 must NOT re-append
    sink(df, 1)
    assert t.scan(spark).count() == 4
    assert _resolve_marker(t, "jobX") == 1

    # (b) simulate: pending staged for batch 2 but the commit never ran
    _stage_pending(t, "jobX", 1, 2)
    sink(df, 2)  # must re-apply (the epoch never committed)
    assert t.scan(spark).count() == 6
    m = json.load(open(_marker_path(t, "jobX")))
    assert m == {"batch_id": 2, "pending": None}
    # steady state: replays of settled epochs stay no-ops
    sink(df, 2)
    sink(df, 1)
    assert t.scan(spark).count() == 6


@pytest.mark.slow
def test_stream_batch_incremental_lsh_index_equality(spark, catalog):
    """r5-flagship certification (T4-consumption shape): the
    dd_incremental_lsh band index — a FIRST_ROW pk table on
    (band, band_sig) — fed through a LOG STREAM + exactly-once upsert
    sink must land identical to the batch-built index at sf0.01."""
    from fluss_spark.operators.dedup import banded_signature, lsh_params, sig_stage
    from fluss_spark.registry import load

    sf = "/root/testdata/sf0.01"
    r_rows, n_bands = lsh_params(sf)
    cutoff = load(spark, sf, "documents").agg(F.max("doc_id")).collect()[0][0] * 9 // 10
    staged = sig_stage(spark, sf).filter(F.col("doc_id") <= cutoff)
    banded = (
        staged.select(
            "doc_id",
            F.explode(banded_signature(F.col("sig"), n_bands, r_rows)).alias("b"),
        )
        .select(
            F.col("b.band").alias("band"),
            F.col("b.band_sig").alias("band_sig"),
            "doc_id",
        )
        .persist()
    )
    banded.count()

    def _idx_schema():
        return TableSchema(
            fields=[
                Field("band", "INT"),
                Field("band_sig", "STRING"),
                Field("doc_id", "BIGINT"),
            ],
            primary_key=["band", "band_sig"],
            num_buckets=4,
            properties={"table.merge-engine": "first_row"},
        )

    batch_idx = create_table(catalog, "db", "lsh_batch", _idx_schema())
    batch_idx.upsert(banded.filter(F.col("doc_id") <= cutoff // 2), ordering=["doc_id"])
    batch_idx.upsert(banded.filter(F.col("doc_id") > cutoff // 2), ordering=["doc_id"])

    src = create_table(
        catalog, "db", "lsh_src",
        TableSchema(
            fields=[
                Field("band", "INT"),
                Field("band_sig", "STRING"),
                Field("doc_id", "BIGINT"),
            ],
            num_buckets=4,
        ),
    )
    stream_idx = create_table(catalog, "db", "lsh_stream", _idx_schema())
    reader = LogStreamReader(src, spark, startup_mode="earliest")
    sink = upsert_sink(stream_idx, "lsh_sync", ordering=["doc_id"])
    bounds = [-1, cutoff // 3, 2 * cutoff // 3, cutoff]
    for lo, hi in zip(bounds, bounds[1:]):
        src.append(
            banded.filter((F.col("doc_id") > lo) & (F.col("doc_id") <= hi)),
            ordering=["doc_id"],
        )
        reader.process_available(sink)

    cols = ["band", "band_sig", "doc_id"]
    a = {tuple(r) for r in batch_idx.snapshot(spark).select(*cols).collect()}
    b = {tuple(r) for r in stream_idx.snapshot(spark).select(*cols).collect()}
    assert len(a) > 1_000
    assert a == b
    banded.unpersist()


@pytest.mark.slow
def test_stream_batch_incremental_ivf_index_equality(spark, catalog):
    """r5-flagship certification (T4-consumption shape): the
    ann_incremental_ivf cell-assignment index — pk=(cell, vec_id),
    bucketed by cell — fed through a LOG STREAM + exactly-once upsert
    sink must land identical to the batch-built index at sf0.01."""
    import json

    from fluss_spark.operators.similarity import (
        _KM_ITERS,
        _KM_K,
        _embeddings,
        assign_cells,
        kmeans_centroids,
    )

    sf = "/root/testdata/sf0.01"
    e = _embeddings(spark, sf)
    cut = e.agg(F.max("vec_id")).collect()[0][0] * 9 // 10
    e_old = e.filter(F.col("vec_id") <= cut)
    cents = kmeans_centroids(e_old, k=_KM_K, iters=_KM_ITERS)
    assigned = assign_cells(e_old, cents).select("cell", "vec_id").persist()
    assigned.count()

    def _idx_schema():
        return TableSchema(
            fields=[Field("cell", "INT"), Field("vec_id", "BIGINT")],
            primary_key=["cell", "vec_id"],
            bucket_keys=["cell"],
            num_buckets=4,
            properties={"index.ivf.centroids": json.dumps(cents)},
        )

    batch_idx = create_table(catalog, "db", "ivf_batch", _idx_schema())
    batch_idx.upsert(assigned.filter(F.col("vec_id") <= cut // 2), ordering=["vec_id"])
    batch_idx.upsert(assigned.filter(F.col("vec_id") > cut // 2), ordering=["vec_id"])

    src = create_table(
        catalog, "db", "ivf_src",
        TableSchema(
            fields=[Field("cell", "INT"), Field("vec_id", "BIGINT")], num_buckets=4
        ),
    )
    stream_idx = create_table(catalog, "db", "ivf_stream", _idx_schema())
    reader = LogStreamReader(src, spark, startup_mode="earliest")
    sink = upsert_sink(stream_idx, "ivf_sync", ordering=["vec_id"])
    bounds = [-1, cut // 3, 2 * cut // 3, cut]
    for lo, hi in zip(bounds, bounds[1:]):
        src.append(
            assigned.filter((F.col("vec_id") > lo) & (F.col("vec_id") <= hi)),
            ordering=["vec_id"],
        )
        reader.process_available(sink)

    a = {tuple(r) for r in batch_idx.snapshot(spark).select("cell", "vec_id").collect()}
    b = {tuple(r) for r in stream_idx.snapshot(spark).select("cell", "vec_id").collect()}
    assert len(a) == e_old.count()  # every old vector assigned exactly once
    assert a == b
    assigned.unpersist()


@pytest.mark.slow
def test_stream_batch_incremental_sessions_equality(spark, catalog):
    """t14 certification (T4-consumption shape): the session store fed
    by a LOG STREAM micro-batch by micro-batch — in OUT-OF-ORDER
    arrival (middle time-tertile last, so it must bridge and merge
    already-stored sessions) — must equal the from-scratch batch
    sessionization at sf0.01."""
    from fluss_spark.operators.engine_queries import _fold_session_batch
    from fluss_spark.operators.sessionize import op_sessionize
    from fluss_spark.registry import load

    sf = "/root/testdata/sf0.01"
    ev = load(spark, sf, "events").select("user_id", "event_id", "ts", "value")
    src = create_table(
        catalog, "db", "sess_src",
        TableSchema(
            fields=[
                Field("user_id", "BIGINT"),
                Field("event_id", "BIGINT"),
                Field("ts", "TIMESTAMP_LTZ"),
                Field("value", "DOUBLE"),
            ],
            num_buckets=4,
        ),
    )
    store = create_table(
        catalog, "db", "sess_store",
        TableSchema(
            fields=[
                Field("user_id", "BIGINT", nullable=False),
                Field("session_start", "TIMESTAMP_LTZ", nullable=False),
                Field("last_ts", "TIMESTAMP_LTZ"),
                Field("n_events", "BIGINT"),
                Field("cents", "BIGINT"),
            ],
            primary_key=["user_id", "session_start"],
            bucket_keys=["user_id"],
            num_buckets=4,
        ),
    )
    cuts = ev.agg(
        F.expr("percentile(cast(ts as long), array(0.33, 0.66))")
    ).collect()[0][0]
    t1, t2 = int(cuts[0]), int(cuts[1])
    reader = LogStreamReader(src, spark, startup_mode="earliest")

    def sink(df, batch_id):
        _fold_session_batch(store, spark, df.select("user_id", "event_id", "ts", "value"))

    for lo, hi in ((None, t1), (t2, None), (t1, t2)):
        b = ev
        if lo is not None:
            b = b.filter(F.col("ts").cast("long") > lo)
        if hi is not None:
            b = b.filter(F.col("ts").cast("long") <= hi)
        src.append(b, ordering=["ts", "event_id"])
        reader.process_available(sink)

    got = {
        (r["user_id"], r["session_start"]): (r["n_events"], r["cents"])
        for r in store.snapshot(spark).collect()
    }
    batch = {
        (r["user_id"], r["session_start"]): (
            r["n_events"],
            int(round(float(r["sum_value"]) * 100)),
        )
        for r in op_sessionize(spark, sf).collect()
    }
    assert len(got) == len(batch) > 1_000
    assert got == batch


def test_reader_includes_bucket_born_after_subscribe(spark, catalog):
    """A bucket that receives its FIRST row after the subscription
    started must still stream: recorded offsets only list buckets
    written by then, and the scan treats missing buckets as
    resume-from-0 — excluding them silently loses their data."""
    n_buckets = 8
    t = create_table(
        catalog, "db", "born_s",
        TableSchema(
            fields=[Field("id", "BIGINT", nullable=False), Field("v", "BIGINT")],
            primary_key=["id"],
            num_buckets=n_buckets,
        ),
    )
    probe = spark.createDataFrame([(i,) for i in range(64)], "id bigint").select(
        "id", F.pmod(F.hash("id"), F.lit(n_buckets)).alias("b")
    ).collect()
    by_bucket = {}
    for r in probe:
        by_bucket.setdefault(r["b"], r["id"])
    bks = sorted(by_bucket)
    k1, k2 = by_bucket[bks[0]], by_bucket[bks[1]]

    t.upsert(spark.createDataFrame([(k1, 1)], "id bigint, v bigint"), ordering=["id"])
    reader = LogStreamReader(t, spark, startup_mode="earliest")
    got = []
    reader.process_available(lambda df, bid: got.extend(r["id"] for r in df.collect()))
    assert got == [k1]
    # k2's bucket is BORN now — after the subscription's offsets map
    t.upsert(spark.createDataFrame([(k2, 2)], "id bigint, v bigint"), ordering=["id"])
    got2 = []
    reader.process_available(lambda df, bid: got2.extend(r["id"] for r in df.collect()))
    assert got2 == [k2]


def test_poll_bounds_buckets_without_rows(spark, catalog, monkeypatch):
    """poll() fixes its batch end before it scans. A bucket with no rows
    at that moment is bounded at offset 0, so its first row, committed
    between the end and the scan, is delivered once — in the next
    batch — and not in this batch and again from offset 0 in the next."""
    from fluss_spark.table import FlussTable

    n_buckets = 4
    t = create_table(
        catalog, "db", "poll_race",
        TableSchema(fields=[Field("a", "INT"), Field("b", "STRING")], bucket_keys=["a"], num_buckets=n_buckets),
    )
    probe = spark.range(64).select(
        F.col("id").cast("int").alias("a"), F.pmod(F.hash(F.col("id").cast("int")), F.lit(n_buckets)).alias("bk")
    ).collect()
    by_bucket = {}
    for r in probe:
        by_bucket.setdefault(r["bk"], r["a"])
    k1, k2 = (by_bucket[b] for b in sorted(by_bucket)[:2])
    t.append(spark.createDataFrame([(k1, "first")], "a int, b string"))
    reader = LogStreamReader(t, spark, startup_mode="earliest")

    real_scan = FlussTable.scan
    raced = []

    def scan_after_a_commit(self, *args, **kwargs):
        if not raced:  # k2's bucket gets its first row inside the first poll
            raced.append(t.append(spark.createDataFrame([(k2, "raced")], "a int, b string")))
        return real_scan(self, *args, **kwargs)

    monkeypatch.setattr(FlussTable, "scan", scan_after_a_commit)
    batches = []
    reader.process_available(lambda df, bid: batches.append(sorted(r["a"] for r in df.collect())))
    assert raced
    assert batches == [[k1], [k2]]


def test_checkpointed_resume_past_ttl_refuses(spark, catalog, tmp_path):
    """A checkpoint whose next offsets a TTL expired unread cannot
    resume: delivering the retained tail alone would silently lose the
    expired changes, so the resumed reader raises instead."""
    import time

    from fluss_spark.maintenance import expire_log_ttl

    t = create_table(
        catalog, "db", "s_ttl",
        TableSchema(
            fields=[Field("k", "BIGINT", nullable=False), Field("v", "BIGINT")],
            primary_key=["k"],
            num_buckets=1,
            properties={"table.log.ttl": "1d"},
        ),
    )
    ckpt = str(tmp_path / "ttl_ckpt")
    t.upsert(spark.createDataFrame([(1, 10)], "k bigint, v bigint"), ordering=["k"])
    reader = LogStreamReader(t, spark, checkpoint_dir=ckpt, startup_mode="earliest")
    assert reader.process_available(lambda df, bid: None) == 1
    # two commits the checkpoint has not consumed; TTL keeps the newest
    t.upsert(spark.createDataFrame([(2, 20)], "k bigint, v bigint"), ordering=["k"])
    t.upsert(spark.createDataFrame([(3, 30)], "k bigint, v bigint"), ordering=["k"])
    assert expire_log_ttl(t, spark, now_ms=int(time.time() * 1000) + 3 * 86_400_000) > 0
    with pytest.raises(ValueError, match="expired unconsumed changelog"):
        LogStreamReader(t, spark, checkpoint_dir=ckpt).poll()


def test_full_mode_delivers_a_commit_racing_the_snapshot_once(spark, catalog, monkeypatch):
    """`full` mode reads the snapshot and the log start from one pinned
    commit: an upsert landing while the snapshot batch is built is
    left out of it and arrives once, in the next log batch."""
    from fluss_spark.table import FlussTable

    t = create_table(
        catalog, "db", "s_full_race",
        TableSchema(
            fields=[Field("k", "INT", nullable=False), Field("v", "STRING")],
            primary_key=["k"],
            num_buckets=2,
        ),
    )
    t.upsert(spark.createDataFrame([(1, "a")], "k int, v string"))
    real_snapshot = FlussTable.snapshot
    raced = []

    def snapshot_after_a_commit(self, *args, **kwargs):
        if not raced:  # the first snapshot call: the bootstrap's
            raced.append(True)
            t.upsert(spark.createDataFrame([(1, "b")], "k int, v string"))
        return real_snapshot(self, *args, **kwargs)

    monkeypatch.setattr(FlussTable, "snapshot", snapshot_after_a_commit)
    batches = []
    LogStreamReader(t, spark, startup_mode="full").process_available(
        lambda df, bid: batches.append(sorted(map(tuple, df.select("k", "v", "_change_type").collect())))
    )
    assert raced
    assert batches == [[(1, "a", "+I")], [(1, "a", "-U"), (1, "b", "+U")]]
