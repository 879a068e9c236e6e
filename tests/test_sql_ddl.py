"""SQL front-end: the reference's Flink-SQL statement surface mapped
onto the engine (DDL -> Admin, INSERT -> append/upsert, SELECT ->
Spark SQL over the registered views)."""

from __future__ import annotations

import pytest

from fluss_spark.catalog import Catalog
from fluss_spark.sql_ddl import FlussSqlSession, SqlParseError


@pytest.fixture()
def fsql(spark, tmp_path):
    return FlussSqlSession(Catalog(str(tmp_path / "wh")), spark, default_db="fluss")


def test_create_insert_select_log_table(spark, fsql):
    fsql.sql("""
        CREATE TABLE events_log (
            id BIGINT NOT NULL,
            kind STRING,
            score DOUBLE
        ) WITH ('bucket.num' = '2', 'table.log.ttl' = '7d')
    """)
    assert fsql.sql("SHOW TABLES").collect()[0]["table_name"] == "events_log"
    fsql.sql("INSERT INTO events_log VALUES (1, 'click', 0.5), (2, 'view', 1.5)")
    got = fsql.sql(
        "SELECT kind, score FROM fluss_events_log WHERE score > 1.0"
    ).collect()
    assert [(r["kind"], r["score"]) for r in got] == [("view", 1.5)]
    desc = {r["name"]: (r["type"], r["nullable"]) for r in fsql.sql("DESCRIBE events_log").collect()}
    assert desc["id"] == ("BIGINT", False) and desc["score"][0] == "DOUBLE"


def test_pk_table_upsert_and_merge_engine(spark, fsql):
    fsql.sql("""
        CREATE TABLE kv (
            k BIGINT,
            v STRING,
            PRIMARY KEY (k) NOT ENFORCED
        ) WITH ('bucket.num' = '2')
    """)
    fsql.sql("INSERT INTO kv VALUES (1, 'a'), (2, 'b')")
    fsql.sql("INSERT INTO kv VALUES (2, 'b2')")
    rows = {r["k"]: r["v"] for r in fsql.sql("SELECT * FROM fluss_kv__snapshot").collect()}
    assert rows == {1: "a", 2: "b2"}
    # changelog virtual table visible through SQL too
    assert fsql.sql(
        "SELECT count(*) AS c FROM fluss_kv__changelog WHERE _change_type = '+U'"
    ).collect()[0]["c"] == 1


def test_insert_select_between_tables(spark, fsql):
    fsql.sql("CREATE TABLE src (a INT, b STRING) WITH ('bucket.num' = '1')")
    fsql.sql("CREATE TABLE dst (a INT, b STRING) WITH ('bucket.num' = '1')")
    fsql.sql("INSERT INTO src VALUES (1, 'x'), (2, 'y'), (3, 'z')")
    fsql.sql("INSERT INTO dst SELECT a, b FROM fluss_src WHERE a >= 2")
    assert fsql.sql("SELECT count(*) AS c FROM fluss_dst").collect()[0]["c"] == 2
    with pytest.raises(SqlParseError, match="arity"):
        fsql.sql("INSERT INTO dst SELECT a FROM fluss_src")


def test_alter_statements_and_show_create(spark, fsql):
    fsql.sql("CREATE TABLE ev (a INT, b STRING) WITH ('bucket.num' = '1')")
    fsql.sql("INSERT INTO ev VALUES (1, 'pre')")
    fsql.sql("ALTER TABLE ev ADD COLUMN c DOUBLE")
    fsql.sql("ALTER TABLE ev RENAME COLUMN b TO label")
    fsql.sql("ALTER TABLE ev ALTER COLUMN a TYPE BIGINT")
    fsql.sql("ALTER TABLE ev SET ('table.log.ttl' = '1d')")
    fsql.sql("INSERT INTO ev VALUES (2, 'post', 0.5)")
    got = {r["a"]: (r["label"], r["c"]) for r in fsql.sql("SELECT * FROM fluss_ev").collect()}
    assert got == {1: ("pre", None), 2: ("post", 0.5)}
    stmt = fsql.sql("SHOW CREATE TABLE ev").collect()[0]["create_statement"]
    assert "`label` STRING" in stmt and "'table.log.ttl' = '1d'" in stmt
    fsql.sql("ALTER TABLE ev RESET ('table.log.ttl')")
    assert "table.log.ttl" not in fsql.sql("SHOW CREATE TABLE ev").collect()[0]["create_statement"]
    fsql.sql("ALTER TABLE ev DROP COLUMN c")
    assert "c" not in fsql.sql("SELECT * FROM fluss_ev").columns


def test_partitioned_table_and_show_partitions(spark, fsql):
    fsql.sql("""
        CREATE TABLE pt (a INT, p STRING) PARTITIONED BY (p)
        WITH ('bucket.num' = '1')
    """)
    fsql.sql("INSERT INTO pt VALUES (1, '2024'), (2, '2025')")
    parts = [r["partition"] for r in fsql.sql("SHOW PARTITIONS pt").collect()]
    assert parts == ["p=2024", "p=2025"]


def test_databases_and_qualified_names(spark, fsql):
    fsql.sql("CREATE DATABASE IF NOT EXISTS ml COMMENT 'training corpora'")
    assert "ml" in [r["database_name"] for r in fsql.sql("SHOW DATABASES").collect()]
    fsql.sql("CREATE TABLE ml.docs (id BIGINT, body STRING) WITH ('bucket.num' = '1')")
    fsql.sql("INSERT INTO ml.docs VALUES (1, 'hello')")
    assert fsql.sql("SELECT count(*) AS c FROM ml_docs").collect()[0]["c"] == 1
    assert [r["table_name"] for r in fsql.sql("SHOW TABLES IN ml").collect()] == ["docs"]
    fsql.sql("DROP TABLE ml.docs")
    fsql.sql("DROP TABLE IF EXISTS ml.docs")  # idempotent with IF EXISTS
    assert fsql.sql("SHOW TABLES IN ml").count() == 0
    with pytest.raises(SqlParseError):
        fsql.sql("GRANT ALL ON x TO y")


def test_create_with_decimal_and_pk_bucket_key(spark, fsql):
    fsql.sql("""
        CREATE TABLE ledger (
            acct BIGINT,
            seq BIGINT,
            amount DECIMAL(10,2),
            PRIMARY KEY (acct, seq) NOT ENFORCED
        ) WITH ('bucket.num' = '4', 'bucket.key' = 'acct')
    """)
    sch = fsql.admin.get_table_info("fluss", "ledger")
    assert sch.primary_key == ["acct", "seq"] and sch.bucket_keys == ["acct"]
    assert sch.num_buckets == 4
    fsql.sql("INSERT INTO ledger VALUES (7, 1, 12.50)")
    # prefix lookup works on the SQL-defined bucket key
    from fluss_spark.table import FlussTable

    t = FlussTable(fsql.catalog, "fluss", "ledger")
    assert t.prefix_lookup(spark, {"acct": 7}).count() == 1


def test_show_partitions_non_partitioned_clean_error(spark, fsql):
    fsql.sql("CREATE TABLE flat (a INT) WITH ('bucket.num' = '1')")
    with pytest.raises(ValueError, match="not a partitioned"):
        fsql.sql("SHOW PARTITIONS flat")


def test_select_view_refresh_is_case_insensitive(spark, fsql):
    """Spark resolves temp view names case-insensitively; the scoped
    view-refresh match must too, or a differently-cased SELECT reads the
    stale plan bound at a previous registration."""
    fsql.sql("CREATE TABLE cased (a INT) WITH ('bucket.num' = '1')")
    fsql.sql("INSERT INTO cased VALUES (1)")
    assert fsql.sql("SELECT count(*) AS c FROM fluss_cased").collect()[0]["c"] == 1
    fsql.sql("INSERT INTO cased VALUES (2)")
    # another registered table also matching keeps hit=True (no
    # conservative full refresh masking the miss)
    fsql.sql("CREATE TABLE other (b INT) WITH ('bucket.num' = '1')")
    got = fsql.sql("SELECT count(*) AS c FROM FLUSS_CASED, fluss_other").collect()
    # fluss_other is empty -> the cross join yields 0 rows (c=0), but
    # the cased view must have refreshed; observe via a direct re-query
    assert got[0]["c"] == 0
    assert fsql.sql("SELECT count(*) AS c FROM FLUSS_CASED").collect()[0]["c"] == 2


def test_create_table_like(spark, fsql):
    """CREATE TABLE LIKE (reference ddl.md:190-208): structure always
    copies; INCLUDING/EXCLUDING OPTIONS controls table properties."""
    fsql.sql("""
        CREATE TABLE src_t (
            k BIGINT, dt STRING, v STRING,
            PRIMARY KEY (k, dt) NOT ENFORCED
        ) PARTITIONED BY (dt)
          WITH ('bucket.num' = '2', 'bucket.key' = 'k', 'table.log.ttl' = '7d')
    """)
    fsql.sql("CREATE TABLE copy_t LIKE src_t")
    sch = fsql.admin.get_table_info("fluss", "copy_t")
    assert sch.primary_key == ["k", "dt"] and sch.partition_keys == ["dt"]
    assert sch.bucket_keys == ["k"] and sch.num_buckets == 2
    assert sch.properties.get("table.log.ttl") == "7d"
    fsql.sql("CREATE TABLE bare_t LIKE src_t (EXCLUDING OPTIONS)")
    bare = fsql.admin.get_table_info("fluss", "bare_t")
    assert bare.primary_key == ["k", "dt"] and "table.log.ttl" not in bare.properties
    # the copy is a real independent table
    fsql.sql("INSERT INTO copy_t VALUES (1, 'd1', 'x')")
    assert fsql.sql("SELECT * FROM fluss_copy_t").count() == 1
    assert fsql.admin.get_table_stats("fluss", "src_t").num_rows == 0


def test_materialized_table_lifecycle(spark, fsql):
    """CREATE MATERIALIZED TABLE: schema inferred from the query, each
    refresh replaces the contents (older refresh commits trimmed),
    SUSPEND blocks refresh, RESUME re-enables, SHOW CREATE renders the
    materialized form, DROP removes it."""
    from fluss_spark.materialized import (
        LAST_TS_PROP,
        Q_PROP,
        refresh_materialized_table,
    )
    from fluss_spark.table import FlussTable

    fsql.sql("CREATE TABLE orders_t (shop_id BIGINT, amount BIGINT) WITH ('bucket.num' = '2')")
    fsql.sql("INSERT INTO orders_t VALUES (1, 10), (1, 5), (2, 7)")
    fsql.sql("""
        CREATE MATERIALIZED TABLE shop_summary
        FRESHNESS = INTERVAL '5' SECOND
        AS SELECT shop_id, count(*) AS order_count, sum(amount) AS total_amount
           FROM fluss_orders_t GROUP BY shop_id
    """)
    sch = fsql.admin.get_table_info("fluss", "shop_summary")
    assert [f.name for f in sch.fields] == ["shop_id", "order_count", "total_amount"]
    assert Q_PROP in sch.properties and LAST_TS_PROP in sch.properties
    got = {r["shop_id"]: (r["order_count"], r["total_amount"])
           for r in fsql.sql("SELECT * FROM fluss_shop_summary").collect()}
    assert got == {1: (2, 15), 2: (1, 7)}

    # refresh replaces contents — no accumulation across refreshes
    fsql.sql("INSERT INTO orders_t VALUES (2, 3)")
    fsql.sql("ALTER MATERIALIZED TABLE shop_summary REFRESH")
    got = {r["shop_id"]: (r["order_count"], r["total_amount"])
           for r in fsql.sql("SELECT * FROM fluss_shop_summary").collect()}
    assert got == {1: (2, 15), 2: (2, 10)}
    # exactly one live refresh commit on disk (older ones trimmed)
    t = FlussTable(fsql.catalog, "fluss", "shop_summary")
    import os
    dirs = [d for d in os.listdir(t.log.log_dir) if d.startswith("__commit=")]
    assert len(dirs) == 1
    # A1 metadata count stays exact after trims (log_start rebased)
    assert t.count() == 2

    fsql.sql("ALTER MATERIALIZED TABLE shop_summary SUSPEND")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="SUSPENDED"):
        refresh_materialized_table(fsql, "fluss", "shop_summary")
    fsql.sql("ALTER MATERIALIZED TABLE shop_summary RESUME")
    refresh_materialized_table(fsql, "fluss", "shop_summary")

    create_stmt = fsql.sql("SHOW CREATE TABLE shop_summary").collect()[0][0]
    assert create_stmt.startswith("CREATE MATERIALIZED TABLE")
    assert "INTERVAL '5' SECOND" in create_stmt

    with _pytest.raises(SqlParseError, match="not a materialized"):
        fsql.sql("DROP MATERIALIZED TABLE orders_t")
    fsql.sql("DROP MATERIALIZED TABLE shop_summary")
    assert not fsql.admin.table_exists("fluss", "shop_summary")


def test_materialized_continuous_refresh(spark, fsql):
    """CONTINUOUS mode at micro-batch granularity: refresh fires only
    when a source table's commit version advanced; refresh_all_due
    follows the freshness interval."""
    from fluss_spark.materialized import (
        continuous_refresh,
        refresh_all_due,
        refresh_due,
        sources_changed,
    )

    fsql.sql("CREATE TABLE ev_t (k BIGINT, v BIGINT) WITH ('bucket.num' = '1')")
    fsql.sql("INSERT INTO ev_t VALUES (1, 1)")
    fsql.sql("""
        CREATE MATERIALIZED TABLE ev_sum
        FRESHNESS = INTERVAL '1' SECOND
        AS SELECT sum(v) AS s FROM fluss_ev_t
    """)
    sch = fsql.catalog.get_schema("fluss", "ev_sum")
    assert not sources_changed(fsql.catalog, sch)  # just refreshed
    assert continuous_refresh(fsql, "fluss", "ev_sum", rounds=1) == 0  # no-op tick

    fsql.sql("INSERT INTO ev_t VALUES (2, 10)")
    assert sources_changed(fsql.catalog, fsql.catalog.get_schema("fluss", "ev_sum"))
    assert continuous_refresh(fsql, "fluss", "ev_sum", rounds=1) == 1
    assert fsql.sql("SELECT s FROM fluss_ev_sum").collect()[0]["s"] == 11

    # freshness-interval maintenance path
    sch = fsql.catalog.get_schema("fluss", "ev_sum")
    import time

    assert not refresh_due(sch)  # fresh
    assert refresh_due(sch, now_ms=int(time.time() * 1000) + 2_000)  # 1s lapsed
    assert refresh_all_due(fsql, now_ms=int(time.time() * 1000) + 2_000) == [
        "fluss.ev_sum"
    ]


def test_view_refresh_skips_unchanged_versions(spark, fsql, monkeypatch):
    """The per-statement view refresh re-registers a matched table only
    when its commit version or schema id moved — repeated SELECTs over
    unchanged tables pay a metadata probe, not a re-plan."""
    import fluss_spark.sql_ddl as sd

    fsql.sql("CREATE TABLE vc (a INT) WITH ('bucket.num' = '1')")
    fsql.sql("INSERT INTO vc VALUES (1)")
    calls = []
    orig = sd.register_sql_views
    monkeypatch.setattr(
        sd, "register_sql_views", lambda *a, **k: (calls.append(a), orig(*a, **k))[1]
    )
    assert fsql.sql("SELECT count(*) AS c FROM fluss_vc").collect()[0]["c"] == 1
    n1 = len(calls)
    assert n1 >= 1  # first statement binds the view
    assert fsql.sql("SELECT count(*) AS c FROM fluss_vc").collect()[0]["c"] == 1
    assert len(calls) == n1  # unchanged -> skipped
    fsql.sql("INSERT INTO vc VALUES (2)")
    assert fsql.sql("SELECT count(*) AS c FROM fluss_vc").collect()[0]["c"] == 2
    assert len(calls) == n1 + 1  # new commit -> exactly one refresh
    fsql.sql("ALTER TABLE vc ADD COLUMN b STRING")
    assert "b" in fsql.sql("SELECT * FROM fluss_vc").columns  # schema.id bump


def test_materialized_table_rejects_column_alters(spark, fsql):
    """An MT's columns are inferred from its query (ddl.md 'Schema
    Definition') — column alters must be rejected; option SET stays
    allowed."""
    from fluss_spark.admin import InvalidAlterTableException

    fsql.sql("CREATE TABLE mtsrc (k BIGINT) WITH ('bucket.num' = '1')")
    fsql.sql("INSERT INTO mtsrc VALUES (1)")
    fsql.sql("""
        CREATE MATERIALIZED TABLE mtv
        FRESHNESS = INTERVAL '1' MINUTE
        AS SELECT count(*) AS n FROM fluss_mtsrc
    """)
    with pytest.raises(InvalidAlterTableException, match="materialized"):
        fsql.sql("ALTER TABLE mtv ADD COLUMN extra STRING")
    with pytest.raises(InvalidAlterTableException, match="materialized"):
        fsql.sql("ALTER TABLE mtv RENAME COLUMN n TO m")
    fsql.sql("ALTER TABLE mtv SET ('table.log.ttl' = '30d')")  # options ok


def test_materialized_table_empty_refresh_replaces(spark, fsql):
    """A refresh whose query result became EMPTY must still commit and
    trim the stale refresh — the MT reads as empty, not as yesterday's
    rows (empty appends commit a version, so truncation keys off it)."""
    from fluss_spark.materialized import refresh_materialized_table
    from fluss_spark.table import FlussTable

    fsql.sql("""
        CREATE TABLE kvs (k BIGINT, live BIGINT,
                          PRIMARY KEY (k) NOT ENFORCED)
        WITH ('bucket.num' = '1')
    """)
    fsql.sql("INSERT INTO kvs VALUES (1, 1), (2, 1)")
    fsql.sql("""
        CREATE MATERIALIZED TABLE live_keys
        FRESHNESS = INTERVAL '1' MINUTE
        AS SELECT k FROM fluss_kvs__snapshot WHERE live = 1
    """)
    t = FlussTable(fsql.catalog, "fluss", "live_keys")
    assert t.scan(spark).count() == 2
    fsql.sql("INSERT INTO kvs VALUES (1, 0), (2, 0)")  # upsert: all dead
    refresh_materialized_table(fsql, "fluss", "live_keys")
    assert t.scan(spark).count() == 0


def test_column_comments_roundtrip(spark, fsql):
    """Column comments (Schema.Column.comment, Schema.java:590-602):
    parsed at CREATE, persisted in the schema JSON, surfaced by
    DESCRIBE and SHOW CREATE TABLE."""
    fsql.sql("""
        CREATE TABLE cmt (
            k BIGINT NOT NULL COMMENT 'the key',
            v STRING COMMENT 'payload text',
            plain INT
        ) WITH ('bucket.num' = '1')
    """)
    desc = {r["name"]: r["comment"] for r in fsql.sql("DESCRIBE cmt").collect()}
    assert desc == {"k": "the key", "v": "payload text", "plain": None}
    stmt = fsql.sql("SHOW CREATE TABLE cmt").collect()[0][0]
    assert "COMMENT 'the key'" in stmt and "COMMENT 'payload text'" in stmt
    # survives the JSON round-trip (fresh schema read)
    sch = fsql.catalog.get_schema("fluss", "cmt")
    assert [f.comment for f in sch.fields] == ["the key", "payload text", None]


def test_view_cache_invalidates_on_commit_free_mutations(spark, fsql):
    """tier_log and drop_partition mutate files WITHOUT committing a
    version — the view cache must catch both (commit-dir name sets +
    partitions.json mtime in the fingerprint), or SELECTs would execute
    stale plans over moved/deleted files."""
    from fluss_spark import maintenance
    from fluss_spark.table import FlussTable

    fsql.sql("""
        CREATE TABLE tl (a INT, p STRING) PARTITIONED BY (p)
        WITH ('bucket.num' = '1')
    """)
    fsql.sql("INSERT INTO tl VALUES (1, '2024'), (2, '2025')")
    fsql.sql("INSERT INTO tl VALUES (3, '2025')")
    assert fsql.sql("SELECT count(*) AS c FROM fluss_tl").collect()[0]["c"] == 3
    t = FlussTable(fsql.catalog, "fluss", "tl")
    # tiering moves a sealed commit dir; the cached plan's file list is
    # now wrong — the fingerprint must force a re-register
    assert maintenance.tier_log(t, local_segments=1) == 1
    assert fsql.sql("SELECT count(*) AS c FROM fluss_tl").collect()[0]["c"] == 3
    # partition drop deletes subdirs without a commit
    fsql.admin.drop_partition("fluss", "tl", {"p": "2024"})
    assert fsql.sql("SELECT count(*) AS c FROM fluss_tl").collect()[0]["c"] == 2


def test_comment_with_quote_and_comma_roundtrips(spark, fsql):
    """Escaped quotes ('') and commas inside COMMENT literals must
    survive parse -> SHOW CREATE -> re-parse."""
    fsql.sql("""
        CREATE TABLE cq (
            k BIGINT COMMENT 'user''s id, primary',
            v STRING
        ) WITH ('bucket.num' = '1')
    """)
    sch = fsql.catalog.get_schema("fluss", "cq")
    assert sch.fields[0].comment == "user's id, primary"
    stmt = fsql.sql("SHOW CREATE TABLE cq").collect()[0][0]
    assert "COMMENT 'user''s id, primary'" in stmt
    # re-executing the rendered DDL reproduces the comment
    fsql.sql(stmt.replace("fluss.cq", "fluss.cq2"))
    assert fsql.catalog.get_schema("fluss", "cq2").fields[0].comment == "user's id, primary"


def test_create_table_as_select(spark, fsql):
    """CTAS: schema derives from the query plan, result lands as the
    first commit, options/partitioning apply."""
    fsql.sql("CREATE TABLE src2 (a INT, b STRING, s DOUBLE) WITH ('bucket.num' = '1')")
    fsql.sql("INSERT INTO src2 VALUES (1, 'x', 0.5), (2, 'y', 1.5), (3, 'x', 2.5)")
    fsql.sql("""
        CREATE TABLE agg WITH ('bucket.num' = '2') AS
        SELECT b, count(*) AS n, sum(s) AS total
        FROM fluss_src2 GROUP BY b
    """)
    sch = fsql.catalog.get_schema("fluss", "agg")
    assert [f.name for f in sch.fields] == ["b", "n", "total"]
    assert sch.num_buckets == 2 and not sch.is_pk_table
    got = {r["b"]: (r["n"], r["total"]) for r in fsql.sql("SELECT * FROM fluss_agg").collect()}
    assert got == {"x": (2, 3.0), "y": (1, 1.5)}
    # IF NOT EXISTS on an existing table skips create AND insert
    fsql.sql("CREATE TABLE IF NOT EXISTS agg AS SELECT b, count(*) AS n, sum(s) AS total FROM fluss_src2 GROUP BY b")
    assert fsql.sql("SELECT count(*) AS c FROM fluss_agg").collect()[0]["c"] == 2


def test_ctas_partitioned(spark, fsql):
    fsql.sql("CREATE TABLE ev (a INT, p STRING) WITH ('bucket.num' = '1')")
    fsql.sql("INSERT INTO ev VALUES (1, '2024'), (2, '2025')")
    fsql.sql("""
        CREATE TABLE ev_p PARTITIONED BY (p) WITH ('bucket.num' = '1')
        AS SELECT a, p FROM fluss_ev
    """)
    sch = fsql.catalog.get_schema("fluss", "ev_p")
    assert sch.partition_keys == ["p"]
    parts = {r["partition"] for r in fsql.sql("SHOW PARTITIONS ev_p").collect()}
    assert parts == {"p=2024", "p=2025"}


def test_insert_overwrite_unpartitioned(spark, fsql):
    """Full-table replace on a log table: older commits trimmed
    (physical removal + log_start rebase), A1 metadata count exact."""
    from fluss_spark.table import FlussTable

    fsql.sql("CREATE TABLE ow (a INT, b STRING) WITH ('bucket.num' = '2')")
    fsql.sql("INSERT INTO ow VALUES (1, 'old'), (2, 'old')")
    fsql.sql("INSERT INTO ow VALUES (3, 'old')")
    fsql.sql("INSERT OVERWRITE ow VALUES (10, 'new'), (11, 'new')")
    rows = {(r["a"], r["b"]) for r in fsql.sql("SELECT * FROM fluss_ow").collect()}
    assert rows == {(10, "new"), (11, "new")}
    # metadata count (A1) agrees after the trim
    t = FlussTable(fsql.catalog, "fluss", "ow")
    assert fsql.admin.get_table_stats("fluss", "ow").num_rows == 2
    # overwrite on a pk table is rejected (merge engine owns writes)
    fsql.sql("CREATE TABLE owpk (k INT, v STRING, PRIMARY KEY (k) NOT ENFORCED) WITH ('bucket.num' = '1')")
    with pytest.raises(SqlParseError, match="primary-key"):
        fsql.sql("INSERT OVERWRITE owpk VALUES (1, 'a')")


def test_insert_overwrite_partitioned_dynamic_and_static(spark, fsql):
    """Partitioned overwrite replaces exactly the partitions present in
    the incoming data (dynamic), or the one named by the static
    PARTITION clause; untouched partitions keep their rows."""
    fsql.sql("""
        CREATE TABLE owp (a INT, dt STRING) PARTITIONED BY (dt)
        WITH ('bucket.num' = '1')
    """)
    fsql.sql("INSERT INTO owp VALUES (1, '2024'), (2, '2024'), (3, '2025'), (4, '2026')")
    # dynamic: incoming data touches 2024 only -> 2025/2026 survive
    fsql.sql("INSERT OVERWRITE owp VALUES (10, '2024')")
    rows = {(r["a"], r["dt"]) for r in fsql.sql("SELECT * FROM fluss_owp").collect()}
    assert rows == {(10, "2024"), (3, "2025"), (4, "2026")}
    # static: PARTITION (dt = '2025') binds the literal; query supplies `a` only
    fsql.sql("INSERT OVERWRITE owp PARTITION (dt = '2025') VALUES (30)")
    rows = {(r["a"], r["dt"]) for r in fsql.sql("SELECT * FROM fluss_owp").collect()}
    assert rows == {(10, "2024"), (30, "2025"), (4, "2026")}
    # INSERT INTO with a static partition appends without replacing
    fsql.sql("INSERT INTO owp PARTITION (dt = '2026') VALUES (40)")
    assert fsql.sql("SELECT count(*) AS c FROM fluss_owp WHERE dt = '2026'").collect()[0]["c"] == 2


def test_use_explain_truncate(spark, fsql):
    import pytest as _pytest

    from fluss_spark.catalog import DatabaseNotFoundError

    fsql.sql("CREATE DATABASE analytics")
    fsql.sql("USE analytics")
    fsql.sql("CREATE TABLE tt (a INT, b STRING) WITH ('bucket.num' = '1')")
    assert fsql.admin.table_exists("analytics", "tt")
    fsql.sql("INSERT INTO tt VALUES (1, 'x'), (2, 'y')")
    with _pytest.raises(DatabaseNotFoundError):
        fsql.sql("USE nope")
    # EXPLAIN routes through Spark SQL over the registered views
    plan = fsql.sql("EXPLAIN SELECT * FROM analytics_tt WHERE a = 1").collect()[0][0]
    assert "Physical Plan" in plan or "Filter" in plan
    # TRUNCATE on a log table trims all commits; A1 metadata stays exact
    fsql.sql("TRUNCATE TABLE tt")
    assert fsql.sql("SELECT count(*) AS c FROM analytics_tt").collect()[0]["c"] == 0
    assert fsql.admin.get_table_stats("analytics", "tt").num_rows == 0
    # appends after truncate keep working (offsets stay monotone)
    fsql.sql("INSERT INTO tt VALUES (3, 'z')")
    assert fsql.sql("SELECT count(*) AS c FROM analytics_tt").collect()[0]["c"] == 1


def test_truncate_pk_table_emits_deletes(spark, fsql):
    """TRUNCATE on a pk table goes through the merge engine: downstream
    changelog consumers see the -D events."""
    fsql.sql("""
        CREATE TABLE tkv (k INT, v STRING, PRIMARY KEY (k) NOT ENFORCED)
        WITH ('bucket.num' = '1')
    """)
    fsql.sql("INSERT INTO tkv VALUES (1, 'a'), (2, 'b')")
    fsql.sql("TRUNCATE TABLE tkv")
    assert fsql.sql("SELECT count(*) AS c FROM fluss_tkv__snapshot").collect()[0]["c"] == 0
    dels = fsql.sql(
        "SELECT count(*) AS c FROM fluss_tkv__changelog WHERE _change_type = '-D'"
    ).collect()[0]["c"]
    assert dels == 2


def test_call_acl_procedures(spark, fsql):
    """CALL sys.add_acl / list_acl / drop_acl — the reference's ACL
    procedure surface (engine-flink/procedures.md:19-160), same named
    arguments, same list_acl row format."""
    out = fsql.sql("""
        CALL sys.add_acl(
          resource => 'CLUSTER',
          permission => 'ALLOW',
          principal => 'User:Alice',
          operation => 'READ',
          host => '*'
        )
    """).collect()
    assert len(out) == 1 and 'principal="User:Alice"' in out[0]["result"]
    fsql.sql(
        "CALL sys.add_acl(resource => 'mydb.mytbl', permission => 'ALLOW',"
        " principal => 'User:Bob', operation => 'WRITE')"
    )
    rows = [r["result"] for r in fsql.sql("CALL sys.list_acl(resource => 'ANY')").collect()]
    assert len(rows) == 2
    assert any('resource="TABLE:mydb.mytbl"' in r and 'operation="WRITE"' in r for r in rows)
    only_bob = [
        r["result"]
        for r in fsql.sql(
            "CALL sys.list_acl(resource => 'ANY', principal => 'User:Bob')"
        ).collect()
    ]
    assert len(only_bob) == 1 and 'host="*"' in only_bob[0]
    dropped = fsql.sql(
        "CALL sys.drop_acl(resource => 'ANY', permission => 'ANY',"
        " principal => 'User:Alice', operation => 'ANY', host => 'ANY')"
    ).collect()
    assert len(dropped) == 1
    assert len(fsql.sql("CALL sys.list_acl(resource => 'ANY')").collect()) == 1
    # the grants are live in the authorizer (same store)
    from fluss_spark.security import Authorizer, Resource

    assert Authorizer(fsql.catalog).authorized("Bob", "WRITE", Resource.table("mydb", "mytbl"))


def test_call_cluster_configs(spark, fsql):
    fsql.sql("CALL sys.set_cluster_configs('datalake.format', 'none', 'x.y', '5')")
    got = [r["result"] for r in fsql.sql("CALL sys.get_cluster_configs()").collect()]
    assert got == ['datalake.format="none"', 'x.y="5"']
    one = [r["result"] for r in fsql.sql("CALL sys.get_cluster_configs('x.y')").collect()]
    assert one == ['x.y="5"']
    fsql.sql("CALL sys.reset_cluster_configs('x.y')")
    assert [r["result"] for r in fsql.sql("CALL sys.get_cluster_configs()").collect()] == [
        'datalake.format="none"'
    ]


def test_call_maintenance_procedures(spark, fsql):
    fsql.sql("CREATE TABLE mt1 (k BIGINT, v STRING) WITH ('bucket.num' = '2')")
    for i in range(3):
        fsql.sql(f"INSERT INTO mt1 VALUES ({i}, 'v{i}')")
    out = fsql.sql("CALL sys.compact_log(table => 'mt1', target_commits => 2)").collect()
    assert out[0]["result"].startswith("compacted_commits=")
    assert int(out[0]["result"].split("=")[1]) >= 2
    assert fsql.sql("SELECT count(*) AS c FROM fluss_mt1").collect()[0]["c"] == 3
    out = fsql.sql("CALL sys.rebucket(table => 'mt1', buckets => 4)").collect()
    assert out[0]["result"].startswith("commit_version=")
    assert fsql.sql("SELECT count(*) AS c FROM fluss_mt1").collect()[0]["c"] == 3
    out = fsql.sql("CALL sys.tier_log('mt1')").collect()
    assert out[0]["result"].startswith("tiered_commits=")
    with pytest.raises(SqlParseError, match="unknown procedure"):
        fsql.sql("CALL sys.nonsense('x')")


def test_call_procedures_authorized(spark, tmp_path):
    """ACL/config procedures need cluster ALTER (list: DESCRIBE);
    maintenance procedures need ALTER on the target table."""
    from fluss_spark.security import (
        AccessControlEntry,
        AclBinding,
        AuthorizationError,
        FlussPrincipal,
        Resource,
        create_acls,
    )

    catalog = Catalog(str(tmp_path / "wh"))
    root = FlussSqlSession(catalog, spark, principal="root", super_users=["User:root"])
    root.sql("CREATE TABLE fluss.t1 (k BIGINT) WITH ('bucket.num' = '1')")
    nobody = FlussSqlSession(catalog, spark, principal="nobody")
    with pytest.raises(AuthorizationError):
        nobody.sql("CALL sys.add_acl(resource => 'CLUSTER', principal => 'User:n', operation => 'READ')")
    with pytest.raises(AuthorizationError):
        nobody.sql("CALL sys.list_acl(resource => 'ANY')")
    with pytest.raises(AuthorizationError):
        nobody.sql("CALL sys.compact_log(table => 't1')")
    create_acls(
        catalog,
        [AclBinding(
            Resource.table("fluss", "t1"),
            AccessControlEntry(FlussPrincipal("op"), "ALTER"),
        )],
    )
    op = FlussSqlSession(catalog, spark, principal="op")
    assert op.sql("CALL sys.compact_log(table => 't1')").collect()[0]["result"] == "compacted_commits=0"


def test_select_time_travel(spark, fsql):
    """S8 as SQL: VERSION AS OF pins a commit; TIMESTAMP AS OF resolves
    the newest commit at-or-before the wall clock."""
    fsql.sql("CREATE TABLE tt (k BIGINT, v STRING) WITH ('bucket.num' = '1')")
    fsql.sql("INSERT INTO tt VALUES (1, 'a')")   # commit 1
    fsql.sql("INSERT INTO tt VALUES (2, 'b')")   # commit 2
    fsql.sql("INSERT INTO tt VALUES (3, 'c')")   # commit 3
    assert fsql.sql("SELECT count(*) AS c FROM fluss_tt").collect()[0]["c"] == 3
    got = fsql.sql("SELECT k FROM fluss_tt VERSION AS OF 2 ORDER BY k").collect()
    assert [r["k"] for r in got] == [1, 2]
    assert fsql.sql("SELECT count(*) AS c FROM fluss_tt VERSION AS OF 1").collect()[0]["c"] == 1
    # timestamp as-of: far future -> all commits; epoch -> error
    got = fsql.sql(
        "SELECT count(*) AS c FROM fluss_tt TIMESTAMP AS OF '2100-01-01 00:00:00'"
    ).collect()
    assert got[0]["c"] == 3
    with pytest.raises(SqlParseError, match="no commit"):
        fsql.sql("SELECT * FROM fluss_tt TIMESTAMP AS OF '1990-01-01 00:00:00'")
    # join of two travel points (alias via subquery still works)
    two = fsql.sql(
        "SELECT a.k FROM fluss_tt VERSION AS OF 2 a "
        "JOIN fluss_tt VERSION AS OF 3 b ON a.k = b.k ORDER BY a.k"
    ).collect()
    assert [r["k"] for r in two] == [1, 2]


def test_call_index_procedures(spark, fsql):
    fsql.sql("""
        CREATE TABLE idx_base (
            k BIGINT NOT NULL, tag STRING, v DOUBLE,
            PRIMARY KEY (k) NOT ENFORCED
        ) WITH ('bucket.num' = '2')
    """)
    fsql.sql("INSERT INTO idx_base VALUES (1, 'x', 0.5), (2, 'y', 1.5), (3, 'x', 2.5)")
    out = fsql.sql("CALL sys.create_index(table => 'idx_base', column => 'tag')").collect()
    assert out[0]["result"] == "index=idx_base__idx__tag"
    # the index is a first-class table: queryable through its views
    got = fsql.sql(
        "SELECT k FROM fluss_idx_base__idx__tag__snapshot WHERE tag = 'x' ORDER BY k"
    ).collect()
    assert [r["k"] for r in got] == [1, 3]
    fsql.sql("INSERT INTO idx_base VALUES (2, 'x', 9.9)")  # move 2 into 'x'
    out = fsql.sql("CALL sys.sync_index('idx_base', 'tag')").collect()
    assert out[0]["result"].startswith("consumed_changelog_rows=")
    got = fsql.sql(
        "SELECT k FROM fluss_idx_base__idx__tag__snapshot WHERE tag = 'x' ORDER BY k"
    ).collect()
    assert [r["k"] for r in got] == [1, 2, 3]


def test_incremental_materialized_table_log_source(spark, fsql):
    """Incremental MT over a LOG source: each refresh folds only the
    slice committed since the last one, yet the contents always equal a
    full recompute of the generated definition query."""
    from fluss_spark.materialized import (
        INC_OFFSETS_PROP,
        INC_PENDING_PROP,
        Q_PROP,
        create_incremental_materialized_table,
        refresh_materialized_table,
    )

    fsql.sql("CREATE TABLE sales (shop BIGINT, amount BIGINT, region STRING) WITH ('bucket.num' = '2')")
    fsql.sql("INSERT INTO sales VALUES (1, 10, 'eu'), (1, 5, 'eu'), (2, 7, 'us'), (2, 100, 'xx')")
    create_incremental_materialized_table(
        fsql, "fluss", "sales_sum",
        source="fluss.sales",
        group_by=["shop"],
        aggs={"cnt": ("count", "*"), "total": ("sum", "amount"),
              "lo": ("min", "amount"), "hi": ("max", "amount")},
        where="region <> 'xx'",
    )

    def full_recompute():
        t = fsql.admin.get_table_info("fluss", "sales_sum")
        fsql._register_referenced_views(t.properties[Q_PROP])
        return {r["shop"]: (r["cnt"], r["total"], r["lo"], r["hi"])
                for r in fsql.spark.sql(t.properties[Q_PROP]).collect()}

    def mt_contents():
        return {r["shop"]: (r["cnt"], r["total"], r["lo"], r["hi"])
                for r in fsql.sql("SELECT * FROM fluss_sales_sum").collect()}

    assert mt_contents() == full_recompute() == {1: (2, 15, 5, 10), 2: (1, 7, 7, 7)}

    # delta fold: new rows (incl. a new group and a new minimum)
    fsql.sql("INSERT INTO sales VALUES (1, 2, 'eu'), (3, 9, 'ap'), (2, 50, 'xx')")
    refresh_materialized_table(fsql, "fluss", "sales_sum")
    assert mt_contents() == full_recompute() == {
        1: (3, 17, 2, 10), 2: (1, 7, 7, 7), 3: (1, 9, 9, 9)
    }
    # offsets advanced and no pending marker is left behind
    props = fsql.admin.get_table_info("fluss", "sales_sum").properties
    assert props[INC_OFFSETS_PROP] != "{}" and not props.get(INC_PENDING_PROP)

    # a refresh with an EMPTY slice is a no-op on contents
    refresh_materialized_table(fsql, "fluss", "sales_sum")
    assert mt_contents() == full_recompute()


def test_incremental_materialized_table_pk_source(spark, fsql):
    """Incremental MT over a PK source: updates retract the old image,
    deletes drive a group's count to zero and remove it; min/max and
    count-less declarations are rejected up front."""
    import pytest as _pytest

    from fluss_spark.materialized import (
        create_incremental_materialized_table,
        refresh_materialized_table,
    )

    fsql.sql("""CREATE TABLE accounts (id BIGINT, shop BIGINT, balance BIGINT,
                PRIMARY KEY (id)) WITH ('bucket.num' = '2')""")
    fsql.sql("INSERT INTO accounts VALUES (1, 10, 100), (2, 10, 50), (3, 20, 7)")
    with _pytest.raises(ValueError, match="not incrementally maintainable"):
        create_incremental_materialized_table(
            fsql, "fluss", "bad_mt", source="fluss.accounts",
            group_by=["shop"], aggs={"c": ("count", "*"), "m": ("min", "balance")},
        )
    with _pytest.raises(ValueError, match="require a count"):
        create_incremental_materialized_table(
            fsql, "fluss", "bad_mt2", source="fluss.accounts",
            group_by=["shop"], aggs={"s": ("sum", "balance")},
        )
    create_incremental_materialized_table(
        fsql, "fluss", "shop_bal", source="fluss.accounts",
        group_by=["shop"], aggs={"n": ("count", "*"), "bal": ("sum", "balance")},
    )

    def mt_contents():
        return {r["shop"]: (r["n"], r["bal"])
                for r in fsql.sql("SELECT * FROM fluss_shop_bal").collect()}

    assert mt_contents() == {10: (2, 150), 20: (1, 7)}

    # update retracts the old image; delete kills group 20 entirely
    fsql.sql("INSERT INTO accounts VALUES (2, 10, 80)")
    from fluss_spark.table import FlussTable

    acc = FlussTable(fsql.catalog, "fluss", "accounts")
    acc.delete(spark.createDataFrame([(3, 20, 7)], "id bigint, shop bigint, balance bigint"))
    refresh_materialized_table(fsql, "fluss", "shop_bal")
    assert mt_contents() == {10: (2, 180)}

    # crash recovery: a pending marker whose append never landed is
    # discarded — the slice is NOT skipped
    from fluss_spark.materialized import INC_PENDING_PROP, _set_props
    import json

    cur = fsql.catalog.current_commit("fluss", "shop_bal").version
    _set_props(fsql.catalog, "fluss", "shop_bal", {
        INC_PENDING_PROP: json.dumps(
            {"offsets": {"0": 999, "1": 999}, "expect_version": cur + 1}
        ),
    })
    fsql.sql("INSERT INTO accounts VALUES (4, 30, 1)")
    refresh_materialized_table(fsql, "fluss", "shop_bal")
    assert mt_contents() == {10: (2, 180), 30: (1, 1)}


def test_call_export_delta_and_zorder_compaction(spark, fsql, tmp_path):
    """CALL sys.export_delta_log writes a Delta commit; CALL
    sys.compact_log accepts sort_columns / zorder_columns."""
    import json
    import os

    fsql.sql("CREATE TABLE dl_t (x INT, y INT) WITH ('bucket.num' = '1')")
    fsql.sql("INSERT INTO dl_t VALUES (1, 2), (3, 4)")
    fsql.sql("INSERT INTO dl_t VALUES (5, 6)")
    target = str(tmp_path / "dexp")
    row = fsql.sql(
        f"CALL sys.export_delta_log(table => 'dl_t', target_dir => '{target}')"
    ).collect()[0]["result"]
    assert row.startswith("delta_version=0 added=")
    log0 = os.path.join(target, "_delta_log", f"{0:020d}.json")
    acts = [json.loads(l) for l in open(log0)]
    assert any("protocol" in a for a in acts) and any("add" in a for a in acts)

    row = fsql.sql(
        "CALL sys.compact_log(table => 'dl_t', target_commits => 2,"
        " zorder_columns => 'x,y')"
    ).collect()[0]["result"]
    assert row == "compacted_commits=2"
    assert {tuple(r) for r in fsql.sql("SELECT x, y FROM fluss_dl_t").collect()} == {
        (1, 2), (3, 4), (5, 6)
    }
    # re-export reflects the compaction as remove+add
    row = fsql.sql(
        f"CALL sys.export_delta_log(table => 'dl_t', target_dir => '{target}')"
    ).collect()[0]["result"]
    assert "delta_version=1" in row and "removed=0" not in row


def test_incremental_mt_sql_statement(spark, fsql):
    """CREATE MATERIALIZED TABLE ... INCREMENTAL AS <restricted GROUP BY
    query>: parses into the incremental-maintenance path; refresh via
    ALTER ... REFRESH folds only the new slice; unmaintainable shapes
    are rejected with the restriction spelled out."""
    import pytest as _pytest

    from fluss_spark.materialized import INC_SOURCE_PROP

    fsql.sql("CREATE TABLE clicks (u BIGINT, amount BIGINT, region STRING) WITH ('bucket.num' = '2')")
    fsql.sql("INSERT INTO clicks VALUES (1, 5, 'eu'), (2, 7, 'us'), (1, 1, 'xx')")
    fsql.sql("""
        CREATE MATERIALIZED TABLE click_sum
        FRESHNESS = INTERVAL '5' SECOND
        INCREMENTAL AS SELECT u, count(*) AS n, sum(amount) AS total
                       FROM fluss_clicks WHERE region <> 'xx' GROUP BY u
    """)
    props = fsql.admin.get_table_info("fluss", "click_sum").properties
    assert props[INC_SOURCE_PROP] == "fluss.clicks"

    def contents():
        return {r["u"]: (r["n"], r["total"])
                for r in fsql.sql("SELECT * FROM fluss_click_sum").collect()}

    assert contents() == {1: (1, 5), 2: (1, 7)}
    fsql.sql("INSERT INTO clicks VALUES (2, 3, 'us'), (3, 9, 'ap')")
    fsql.sql("ALTER MATERIALIZED TABLE click_sum REFRESH")
    assert contents() == {1: (1, 5), 2: (2, 10), 3: (1, 9)}

    with _pytest.raises(SqlParseError, match="not a group column or"):
        fsql.sql("""
            CREATE MATERIALIZED TABLE bad_inc
            FRESHNESS = INTERVAL '5' SECOND
            INCREMENTAL AS SELECT u, avg(amount) AS a FROM fluss_clicks GROUP BY u
        """)
    with _pytest.raises(SqlParseError, match="cannot resolve source"):
        fsql.sql("""
            CREATE MATERIALIZED TABLE bad_inc2
            FRESHNESS = INTERVAL '5' SECOND
            INCREMENTAL AS SELECT u, count(*) AS n FROM nowhere GROUP BY u
        """)


@pytest.mark.slow
def test_incremental_mt_randomized_equivalence(spark, fsql):
    """Property check: across a randomized sequence of upserts, value
    changes, and deletes on a pk source, the incrementally-maintained
    MT always equals a full GROUP BY recompute over the source
    snapshot — including groups that die and are later reborn."""
    import random

    from fluss_spark.materialized import (
        create_incremental_materialized_table,
        refresh_materialized_table,
    )
    from fluss_spark.table import FlussTable

    fsql.sql("""CREATE TABLE rnd_src (id BIGINT, grp BIGINT, val BIGINT,
                PRIMARY KEY (id)) WITH ('bucket.num' = '2')""")
    src = FlussTable(fsql.catalog, "fluss", "rnd_src")
    rng = random.Random(7)
    live: dict[int, tuple[int, int]] = {}

    def apply_random_batch():
        ups = []
        for _ in range(rng.randint(2, 6)):
            i = rng.randint(1, 12)
            row = (i, rng.randint(1, 3), rng.randint(-5, 20))
            live[i] = row[1:]
            ups.append(row)
        src.upsert(
            spark.createDataFrame(ups, "id bigint, grp bigint, val bigint"),
            ordering=["id"],
        )
        dels = [i for i in list(live) if rng.random() < 0.3]
        if dels:
            rows = [(i, *live.pop(i)) for i in dels]
            src.delete(
                spark.createDataFrame(rows, "id bigint, grp bigint, val bigint")
            )

    apply_random_batch()
    create_incremental_materialized_table(
        fsql, "fluss", "rnd_mt", source="fluss.rnd_src",
        group_by=["grp"], aggs={"n": ("count", "*"), "s": ("sum", "val")},
    )
    for _ in range(3):
        apply_random_batch()
        refresh_materialized_table(fsql, "fluss", "rnd_mt")
        got = {r["grp"]: (r["n"], r["s"])
               for r in fsql.sql("SELECT * FROM fluss_rnd_mt").collect()}
        want: dict[int, list[int]] = {}
        for g, v in live.values():
            acc = want.setdefault(g, [0, 0])
            acc[0] += 1
            acc[1] += v
        assert got == {g: tuple(a) for g, a in want.items()}


def test_incremental_mt_refuses_expired_source(spark, fsql):
    """TTL deleting source commits the MT never folded must fail the
    refresh loudly instead of silently dropping their contribution."""
    import time

    import pytest as _pytest

    from fluss_spark.materialized import (
        create_incremental_materialized_table,
        refresh_materialized_table,
    )
    from fluss_spark.maintenance import expire_log_ttl
    from fluss_spark.table import FlussTable

    fsql.sql("""CREATE TABLE ttl_src (g BIGINT, v BIGINT)
                WITH ('bucket.num' = '1', 'table.log.ttl' = '1d')""")
    fsql.sql("INSERT INTO ttl_src VALUES (1, 5)")
    create_incremental_materialized_table(
        fsql, "fluss", "ttl_mt", source="fluss.ttl_src",
        group_by=["g"], aggs={"n": ("count", "*")},
    )
    fsql.sql("INSERT INTO ttl_src VALUES (1, 7)")  # never folded
    fsql.sql("INSERT INTO ttl_src VALUES (1, 9)")  # newest survives TTL
    day = 86_400_000
    t = FlussTable(fsql.catalog, "fluss", "ttl_src")
    assert expire_log_ttl(t, spark, now_ms=int(time.time() * 1000) + 3 * day) > 0
    with _pytest.raises(ValueError, match="expired unfolded data"):
        refresh_materialized_table(fsql, "fluss", "ttl_mt")


def test_delete_from_full_pk_fast_path(spark, fsql):
    """writes.md:90-102 — single-row DELETE by full primary key. The
    full-pk form must take the L1 lookup plan (one bucket dir), and a
    delete of an absent key must not create a commit."""
    fsql.sql("""
        CREATE TABLE dml_kv (
            shop_id BIGINT, user_id BIGINT, total DOUBLE,
            PRIMARY KEY (shop_id, user_id) NOT ENFORCED
        ) WITH ('bucket.num' = '4')
    """)
    fsql.sql("INSERT INTO dml_kv VALUES (1, 10, 5.0), (1, 11, 6.0), (2, 10, 7.0)")
    fsql.sql("DELETE FROM dml_kv WHERE shop_id = 1 AND user_id = 11")
    rows = {(r["shop_id"], r["user_id"]) for r in fsql.sql("SELECT * FROM fluss_dml_kv__snapshot").collect()}
    assert rows == {(1, 10), (2, 10)}
    # deleted row emits a -D in the changelog (CDC semantics preserved)
    assert fsql.sql(
        "SELECT count(*) AS c FROM fluss_dml_kv__changelog WHERE _change_type = '-D'"
    ).collect()[0]["c"] == 1
    from fluss_spark.catalog import Catalog

    v_before = fsql.catalog.current_commit("fluss", "dml_kv").version
    fsql.sql("DELETE FROM dml_kv WHERE shop_id = 9 AND user_id = 9")  # absent key
    assert fsql.catalog.current_commit("fluss", "dml_kv").version == v_before


def test_delete_from_predicate_and_log_table_rejected(spark, fsql):
    fsql.sql("""
        CREATE TABLE dml_kv2 (
            k BIGINT, grp STRING, v DOUBLE,
            PRIMARY KEY (k) NOT ENFORCED
        ) WITH ('bucket.num' = '2')
    """)
    fsql.sql("INSERT INTO dml_kv2 VALUES (1, 'a', 1.0), (2, 'b', 2.0), (3, 'a', 3.0)")
    # generalized predicate path (beyond the reference's full-pk-only shape)
    fsql.sql("DELETE FROM dml_kv2 WHERE grp = 'a' AND v > 0.5")
    assert {r["k"] for r in fsql.sql("SELECT * FROM fluss_dml_kv2__snapshot").collect()} == {2}
    fsql.sql("CREATE TABLE dml_log (a INT) WITH ('bucket.num' = '1')")
    with pytest.raises(SqlParseError, match="Log Table"):
        fsql.sql("DELETE FROM dml_log WHERE a = 1")
    with pytest.raises(SqlParseError, match="Log Table"):
        fsql.sql("UPDATE dml_log SET a = 2 WHERE a = 1")


def test_update_full_pk_and_predicate(spark, fsql):
    fsql.sql("""
        CREATE TABLE dml_up (
            shop_id BIGINT, user_id BIGINT, total DOUBLE, note STRING,
            PRIMARY KEY (shop_id, user_id) NOT ENFORCED
        ) WITH ('bucket.num' = '4')
    """)
    fsql.sql(
        "INSERT INTO dml_up VALUES (1, 10, 5.0, 'x'), (1, 11, 6.0, 'y'), (2, 10, 7.0, 'z')"
    )
    # reference shape: single row by full pk (writes.md:115)
    fsql.sql("UPDATE dml_up SET total = 2 WHERE shop_id = 1 AND user_id = 10")
    got = {
        (r["shop_id"], r["user_id"]): (r["total"], r["note"])
        for r in fsql.sql("SELECT * FROM fluss_dml_up__snapshot").collect()
    }
    assert got[(1, 10)] == (2.0, "x") and got[(1, 11)] == (6.0, "y")
    # expressions over existing columns + multi-assignment, set-oriented WHERE
    fsql.sql("UPDATE dml_up SET total = total + 1, note = 'bulk' WHERE total > 5")
    got = {
        (r["shop_id"], r["user_id"]): (r["total"], r["note"])
        for r in fsql.sql("SELECT * FROM fluss_dml_up__snapshot").collect()
    }
    assert got[(1, 11)] == (7.0, "bulk") and got[(2, 10)] == (8.0, "bulk")
    assert got[(1, 10)] == (2.0, "x")
    # update of an absent key is a no-op, not an insert
    v = fsql.catalog.current_commit("fluss", "dml_up").version
    fsql.sql("UPDATE dml_up SET total = 0 WHERE shop_id = 5 AND user_id = 5")
    assert fsql.catalog.current_commit("fluss", "dml_up").version == v
    assert len(got) == 3


def test_update_rejects_pk_and_unknown_columns(spark, fsql):
    fsql.sql("""
        CREATE TABLE dml_up2 (
            k BIGINT, v STRING, PRIMARY KEY (k) NOT ENFORCED
        ) WITH ('bucket.num' = '1')
    """)
    fsql.sql("INSERT INTO dml_up2 VALUES (1, 'a')")
    with pytest.raises(SqlParseError, match="primary-key column"):
        fsql.sql("UPDATE dml_up2 SET k = 2 WHERE k = 1")
    with pytest.raises(SqlParseError, match="unknown column"):
        fsql.sql("UPDATE dml_up2 SET nope = 2 WHERE k = 1")
    # a string value containing ' where ' must not split the clause
    fsql.sql("UPDATE dml_up2 SET v = 'a where b' WHERE k = 1")
    assert fsql.sql("SELECT v FROM fluss_dml_up2__snapshot").collect()[0]["v"] == "a where b"


def test_dml_authorization(spark, tmp_path):
    """DELETE/UPDATE require WRITE on the target table."""
    from fluss_spark.security import (
        AccessControlEntry,
        AclBinding,
        AuthorizationError,
        FlussPrincipal,
        Resource,
        create_acls,
    )

    catalog = Catalog(str(tmp_path / "wh_dml"))
    root = FlussSqlSession(catalog, spark, principal="root", super_users=["User:root"])
    root.sql(
        "CREATE TABLE fluss.sec_kv (k BIGINT, v STRING, PRIMARY KEY (k) NOT ENFORCED)"
        " WITH ('bucket.num' = '1')"
    )
    root.sql("INSERT INTO fluss.sec_kv VALUES (1, 'a')")
    create_acls(
        catalog,
        [AclBinding(
            Resource.table("fluss", "sec_kv"),
            AccessControlEntry(FlussPrincipal("bob"), "READ"),
        )],
    )
    bob = FlussSqlSession(catalog, spark, principal="bob")
    with pytest.raises(AuthorizationError):
        bob.sql("DELETE FROM sec_kv WHERE k = 1")
    with pytest.raises(AuthorizationError):
        bob.sql("UPDATE sec_kv SET v = 'x' WHERE k = 1")
    create_acls(
        catalog,
        [AclBinding(
            Resource.table("fluss", "sec_kv"),
            AccessControlEntry(FlussPrincipal("bob"), "WRITE"),
        )],
    )
    bob.sql("UPDATE sec_kv SET v = 'x' WHERE k = 1")
    assert root.sql("SELECT v FROM fluss_sec_kv__snapshot").collect()[0]["v"] == "x"


def test_dml_bucket_key_prefix_fast_path(spark, fsql):
    """A DML predicate binding exactly the bucket key (pk prefix) takes
    the L2 single-bucket plan and applies to all rows of that prefix."""
    fsql.sql("""
        CREATE TABLE dml_pfx (
            user_id BIGINT, event_type STRING, v DOUBLE,
            PRIMARY KEY (user_id, event_type) NOT ENFORCED
        ) WITH ('bucket.num' = '4', 'bucket.key' = 'user_id')
    """)
    fsql.sql(
        "INSERT INTO dml_pfx VALUES (7, 'click', 1.0), (7, 'view', 2.0), (8, 'click', 3.0)"
    )
    fsql.sql("UPDATE dml_pfx SET v = v * 10 WHERE user_id = 8")
    fsql.sql("DELETE FROM dml_pfx WHERE user_id = 7")
    got = {(r["user_id"], r["event_type"]): r["v"]
           for r in fsql.sql("SELECT * FROM fluss_dml_pfx__snapshot").collect()}
    assert got == {(8, "click"): 30.0}


def test_dml_keyed_predicates_take_lookup_plans(spark, fsql, keyed_read_probe):
    """The DML fast-path dispatcher: full-pk equality resolves to the L1
    lookup, bucket-key equality to the L2 prefix lookup — each a
    driver-side read of ONE bucket dir (local relation, no Spark job) —
    and non-keyed predicates return None (the filtered-snapshot path)."""
    fsql.sql("""
        CREATE TABLE dml_plan (
            k BIGINT, s BIGINT, v DOUBLE,
            PRIMARY KEY (k, s) NOT ENFORCED
        ) WITH ('bucket.num' = '4', 'bucket.key' = 'k')
    """)
    fsql.sql("INSERT INTO dml_plan VALUES (1, 1, 0.5), (1, 2, 0.7), (2, 1, 0.9)")
    from fluss_spark.table import FlussTable

    t = FlussTable(fsql.catalog, "fluss", "dml_plan")
    for cond, want in (("k = 1 AND s = 2", [0.7]), ("k = 1", [0.5, 0.7])):
        assert fsql._keyed_rows(t, cond) is not None, cond
        rows = keyed_read_probe(t, lambda: fsql._keyed_rows(t, cond), [1], "k bigint")
        assert sorted(r["v"] for r in rows) == want, cond
    assert fsql._keyed_rows(t, "v = 0.5") is None  # non-key column
    assert fsql._keyed_rows(t, "s = 2") is None  # pk suffix: not a bucket prefix
    assert fsql._keyed_rows(t, "k = 1 AND v > 0") is None  # mixed shape
    assert fsql._keyed_rows(t, "k = 1 OR s = 2") is None  # not a conjunction


def test_alter_table_add_drop_partition_and_unset(spark, fsql):
    """engine-spark dialect parity (engine-spark/ddl.md:190-249):
    ALTER TABLE ... ADD/DROP PARTITION and UNSET as a RESET alias."""
    fsql.sql("""
        CREATE TABLE ptab (a INT, dt STRING) PARTITIONED BY (dt)
        WITH ('bucket.num' = '1', 'table.log.ttl' = '9d')
    """)
    fsql.sql("ALTER TABLE ptab ADD PARTITION (dt = '2024-01-01')")
    fsql.sql("ALTER TABLE ptab ADD IF NOT EXISTS PARTITION (dt = '2024-01-01')")
    with pytest.raises(ValueError, match="exists"):
        fsql.sql("ALTER TABLE ptab ADD PARTITION (dt = '2024-01-01')")
    fsql.sql("INSERT INTO ptab VALUES (1, '2024-01-01'), (2, '2024-01-02')")
    parts = [r["partition"] for r in fsql.sql("SHOW PARTITIONS ptab").collect()]
    assert parts == ["dt=2024-01-01", "dt=2024-01-02"]
    fsql.sql("ALTER TABLE ptab DROP PARTITION (dt = '2024-01-01')")
    assert [r["partition"] for r in fsql.sql("SHOW PARTITIONS ptab").collect()] == ["dt=2024-01-02"]
    assert fsql.sql("SELECT count(*) AS c FROM fluss_ptab").collect()[0]["c"] == 1
    fsql.sql("ALTER TABLE ptab UNSET ('table.log.ttl')")
    assert "table.log.ttl" not in fsql.sql("SHOW CREATE TABLE ptab").collect()[0]["create_statement"]


def test_dml_rejects_non_default_merge_engines(spark, fsql):
    """first-row.md:19 / versioned.md:18 — UPDATE and DELETE statements
    are not supported on non-default merge engines (a re-upserted
    snapshot row would fold through the engine's own semantics:
    first_row silently keeps the seed, aggregation double-counts)."""
    fsql.sql("""
        CREATE TABLE fr_kv (k BIGINT, v STRING, PRIMARY KEY (k) NOT ENFORCED)
        WITH ('bucket.num' = '1', 'table.merge-engine' = 'first_row')
    """)
    fsql.sql("INSERT INTO fr_kv VALUES (1, 'a')")
    with pytest.raises(SqlParseError, match="merge-engine"):
        fsql.sql("UPDATE fr_kv SET v = 'x' WHERE k = 1")
    with pytest.raises(SqlParseError, match="merge-engine"):
        fsql.sql("DELETE FROM fr_kv WHERE k = 1")


def test_update_set_evaluates_against_old_row(spark, fsql):
    """SQL UPDATE semantics: every SET expression sees the OLD row —
    SET a = b, b = a swaps (sequential withColumn would copy)."""
    fsql.sql("""
        CREATE TABLE swap_kv (k BIGINT, a DOUBLE, b DOUBLE, PRIMARY KEY (k) NOT ENFORCED)
        WITH ('bucket.num' = '2')
    """)
    fsql.sql("INSERT INTO swap_kv VALUES (1, 1.0, 2.0), (2, 10.0, 20.0)")
    # keyed (single-row) path
    fsql.sql("UPDATE swap_kv SET a = b, b = a WHERE k = 1")
    # snapshot (set-oriented) path
    fsql.sql("UPDATE swap_kv SET a = b, b = a WHERE a > 5")
    got = {r["k"]: (r["a"], r["b"]) for r in fsql.sql("SELECT * FROM fluss_swap_kv__snapshot").collect()}
    assert got == {1: (2.0, 1.0), 2: (20.0, 10.0)}


def test_merge_into_all_clauses(spark, fsql):
    """MERGE INTO = the set-oriented composition of the DML triad, ONE
    atomic commit through the engine's mixed upsert/delete batch:
    matched+cond DELETE, matched UPDATE (first matching clause wins,
    SET sees both aliases), not-matched+cond INSERT."""
    fsql.sql("""
        CREATE TABLE mrg (id BIGINT, kind STRING, v DOUBLE,
                          PRIMARY KEY (id) NOT ENFORCED)
        WITH ('bucket.num' = '4')
    """)
    fsql.sql("INSERT INTO mrg VALUES (1, 'a', 1.0), (2, 'b', 2.0), (3, 'x', 3.0)")
    fsql.sql("""
        CREATE TABLE mrg_src (id BIGINT, kind STRING, v DOUBLE,
                              PRIMARY KEY (id) NOT ENFORCED)
        WITH ('bucket.num' = '2')
    """)
    fsql.sql(
        "INSERT INTO mrg_src VALUES (2, 'b2', 20.0), (3, 'drop', 0.0), "
        "(4, 'c', 4.0), (5, 'drop', 5.0)"
    )
    v_before = fsql.catalog.current_commit("fluss", "mrg").version
    fsql.sql("""
        MERGE INTO mrg AS t USING fluss_mrg_src__snapshot AS s ON t.id = s.id
        WHEN MATCHED AND s.kind = 'drop' THEN DELETE
        WHEN MATCHED THEN UPDATE SET v = t.v + s.v, kind = s.kind
        WHEN NOT MATCHED AND s.kind <> 'drop' THEN INSERT (id, kind, v)
            VALUES (s.id, s.kind, s.v)
    """)
    got = {
        r["id"]: (r["kind"], r["v"])
        for r in fsql.sql("SELECT * FROM fluss_mrg__snapshot").collect()
    }
    assert got == {1: ("a", 1.0), 2: ("b2", 22.0), 4: ("c", 4.0)}
    # the whole statement is ONE commit with CDC-correct changelog rows
    assert fsql.catalog.current_commit("fluss", "mrg").version == v_before + 1
    cdc = {
        r["_change_type"]: r["c"]
        for r in fsql.sql(
            "SELECT _change_type, count(*) AS c FROM fluss_mrg__changelog "
            "GROUP BY _change_type"
        ).collect()
    }
    assert cdc["-D"] == 1  # the matched delete of id=3
    assert cdc["+U"] >= 1  # the matched update of id=2


def test_merge_into_subquery_source_and_insert_star(spark, fsql):
    fsql.sql("""
        CREATE TABLE mrg2 (id BIGINT, kind STRING, v DOUBLE,
                           PRIMARY KEY (id) NOT ENFORCED)
        WITH ('bucket.num' = '2')
    """)
    fsql.sql("INSERT INTO mrg2 VALUES (1, 'a', 1.0)")
    fsql.sql("""
        MERGE INTO mrg2 t
        USING (SELECT CAST(9 AS BIGINT) AS id, 'z' AS kind,
                      CAST(9.5 AS DOUBLE) AS v) s
        ON t.id = s.id
        WHEN NOT MATCHED THEN INSERT *
    """)
    got = {r["id"]: (r["kind"], r["v"])
           for r in fsql.sql("SELECT * FROM fluss_mrg2__snapshot").collect()}
    assert got == {1: ("a", 1.0), 9: ("z", 9.5)}
    # an all-unmatched-no-clause merge is a no-op, not an empty commit
    v = fsql.catalog.current_commit("fluss", "mrg2").version
    fsql.sql("""
        MERGE INTO mrg2 t
        USING (SELECT CAST(1 AS BIGINT) AS id, 'q' AS kind,
                      CAST(0.0 AS DOUBLE) AS v) s
        ON t.id = s.id
        WHEN NOT MATCHED THEN INSERT *
    """)
    assert fsql.catalog.current_commit("fluss", "mrg2").version == v


def test_merge_into_cardinality_and_rejections(spark, fsql):
    fsql.sql("""
        CREATE TABLE mrg3 (id BIGINT, v DOUBLE, PRIMARY KEY (id) NOT ENFORCED)
        WITH ('bucket.num' = '2')
    """)
    fsql.sql("INSERT INTO mrg3 VALUES (1, 1.0)")
    spark.createDataFrame(
        [(1, 10.0), (1, 20.0)], "id long, v double"
    ).createOrReplaceTempView("mrg3_dup")
    # ANSI cardinality rule: two source rows touching one target key
    with pytest.raises(SqlParseError, match="more than once"):
        fsql.sql(
            "MERGE INTO mrg3 t USING mrg3_dup s ON t.id = s.id "
            "WHEN MATCHED THEN UPDATE SET v = s.v"
        )
    # duplicate INSERT keys are the same violation
    spark.createDataFrame(
        [(7, 1.0), (7, 2.0)], "id long, v double"
    ).createOrReplaceTempView("mrg3_dup2")
    with pytest.raises(SqlParseError, match="more than once"):
        fsql.sql(
            "MERGE INTO mrg3 t USING mrg3_dup2 s ON t.id = s.id "
            "WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)"
        )
    spark.createDataFrame([(1, 10.0)], "id long, v double").createOrReplaceTempView(
        "mrg3_src"
    )
    with pytest.raises(SqlParseError, match="primary-key column"):
        fsql.sql(
            "MERGE INTO mrg3 t USING mrg3_src s ON t.id = s.id "
            "WHEN MATCHED THEN UPDATE SET id = s.id + 1"
        )
    # INSERT must bind the full pk
    with pytest.raises(SqlParseError, match="primary-key column"):
        fsql.sql(
            "MERGE INTO mrg3 t USING mrg3_src s ON t.id = s.id "
            "WHEN NOT MATCHED THEN INSERT (v) VALUES (s.v)"
        )
    # clause/action kind mismatches
    with pytest.raises(SqlParseError, match="not valid"):
        fsql.sql(
            "MERGE INTO mrg3 t USING mrg3_src s ON t.id = s.id "
            "WHEN MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)"
        )
    with pytest.raises(SqlParseError, match="not valid"):
        fsql.sql(
            "MERGE INTO mrg3 t USING mrg3_src s ON t.id = s.id "
            "WHEN NOT MATCHED THEN DELETE"
        )
    # log tables and non-default merge engines reject MERGE like UPDATE
    fsql.sql("CREATE TABLE mrg_log (a INT) WITH ('bucket.num' = '1')")
    with pytest.raises(SqlParseError, match="Log Table"):
        fsql.sql(
            "MERGE INTO mrg_log t USING mrg3_src s ON t.a = s.id "
            "WHEN MATCHED THEN DELETE"
        )
    fsql.sql("""
        CREATE TABLE mrg_fr (k BIGINT, v STRING, PRIMARY KEY (k) NOT ENFORCED)
        WITH ('bucket.num' = '1', 'table.merge-engine' = 'first_row')
    """)
    with pytest.raises(SqlParseError, match="merge-engine"):
        fsql.sql(
            "MERGE INTO mrg_fr t USING mrg3_src s ON t.k = s.id "
            "WHEN MATCHED THEN DELETE"
        )


def test_merge_into_authorization(spark, tmp_path):
    """MERGE requires WRITE on the target and READ on referenced
    source tables."""
    from fluss_spark.security import (
        AccessControlEntry,
        AclBinding,
        AuthorizationError,
        FlussPrincipal,
        Resource,
        create_acls,
    )

    catalog = Catalog(str(tmp_path / "wh_mrg_auth"))
    root = FlussSqlSession(catalog, spark, principal="root", super_users=["User:root"])
    root.sql(
        "CREATE TABLE fluss.sec_t (id BIGINT, v DOUBLE, PRIMARY KEY (id) NOT ENFORCED)"
        " WITH ('bucket.num' = '1')"
    )
    root.sql(
        "CREATE TABLE fluss.sec_s (id BIGINT, v DOUBLE, PRIMARY KEY (id) NOT ENFORCED)"
        " WITH ('bucket.num' = '1')"
    )
    root.sql("INSERT INTO fluss.sec_t VALUES (1, 1.0)")
    root.sql("INSERT INTO fluss.sec_s VALUES (1, 2.0)")
    stmt = (
        "MERGE INTO sec_t t USING fluss_sec_s__snapshot s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET v = s.v"
    )
    bob = FlussSqlSession(catalog, spark, principal="bob")
    with pytest.raises(AuthorizationError):
        bob.sql(stmt)  # neither grant
    create_acls(
        catalog,
        [AclBinding(
            Resource.table("fluss", "sec_t"),
            AccessControlEntry(FlussPrincipal("bob"), "WRITE"),
        )],
    )
    with pytest.raises(AuthorizationError):
        bob.sql(stmt)  # WRITE on target but no READ on source
    create_acls(
        catalog,
        [AclBinding(
            Resource.table("fluss", "sec_s"),
            AccessControlEntry(FlussPrincipal("bob"), "READ"),
        )],
    )
    bob.sql(stmt)
    got = root.sql("SELECT v FROM fluss_sec_t__snapshot").collect()
    assert got[0]["v"] == 2.0


def test_merge_into_not_matched_by_source(spark, fsql):
    """WHEN NOT MATCHED BY SOURCE (the Spark/Delta extension) evaluates
    per TARGET row with no source match — the full CDC-style sync shape
    (update matched, insert new, retire gone-from-source) in one atomic
    commit. Source-alias references in BY SOURCE clauses are rejected
    (no source row exists for those rows)."""
    fsql.sql("""
        CREATE TABLE mrg_bs (id BIGINT, kind STRING, v DOUBLE,
                             PRIMARY KEY (id) NOT ENFORCED)
        WITH ('bucket.num' = '4')
    """)
    fsql.sql(
        "INSERT INTO mrg_bs VALUES (1, 'a', 1.0), (2, 'b', 2.0), "
        "(3, 'c', 3.0), (4, 'd', 4.0)"
    )
    spark.createDataFrame(
        [(2, "b2", 20.0), (5, "e", 5.0)], "id long, kind string, v double"
    ).createOrReplaceTempView("mrg_bs_src")
    v_before = fsql.catalog.current_commit("fluss", "mrg_bs").version
    fsql.sql("""
        MERGE INTO mrg_bs AS t USING mrg_bs_src AS s ON t.id = s.id
        WHEN MATCHED THEN UPDATE SET v = s.v, kind = s.kind
        WHEN NOT MATCHED THEN INSERT *
        WHEN NOT MATCHED BY SOURCE AND t.id > 3 THEN DELETE
        WHEN NOT MATCHED BY SOURCE THEN UPDATE SET kind = 'stale'
    """)
    got = {
        r["id"]: (r["kind"], r["v"])
        for r in fsql.sql("SELECT * FROM fluss_mrg_bs__snapshot").collect()
    }
    assert got == {
        1: ("stale", 1.0),
        2: ("b2", 20.0),
        3: ("stale", 3.0),
        5: ("e", 5.0),
    }
    assert fsql.catalog.current_commit("fluss", "mrg_bs").version == v_before + 1
    with pytest.raises(SqlParseError, match="cannot reference the source"):
        fsql.sql(
            "MERGE INTO mrg_bs t USING mrg_bs_src s ON t.id = s.id "
            "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = s.v"
        )
    with pytest.raises(SqlParseError, match="only valid after NOT MATCHED"):
        fsql.sql(
            "MERGE INTO mrg_bs t USING mrg_bs_src s ON t.id = s.id "
            "WHEN MATCHED BY SOURCE THEN DELETE"
        )
    # BY TARGET is the explicit synonym of the plain NOT MATCHED scope
    fsql.sql("""
        MERGE INTO mrg_bs t
        USING (SELECT CAST(9 AS BIGINT) AS id, 'z' AS kind,
                      CAST(9.0 AS DOUBLE) AS v) s
        ON t.id = s.id
        WHEN NOT MATCHED BY TARGET THEN INSERT *
    """)
    ids = {r["id"] for r in fsql.sql("SELECT * FROM fluss_mrg_bs__snapshot").collect()}
    assert 9 in ids


def test_merge_into_case_expressions_and_set_forms(spark, fsql):
    """ANSI MERGE statements commonly carry CASE expressions (whose
    WHEN/THEN keywords must not read as clause boundaries), qualified
    SET targets (SET t.v = ...), and the UPDATE SET * shorthand."""
    fsql.sql("""
        CREATE TABLE mrg_case (id BIGINT, kind STRING, v DOUBLE,
                               PRIMARY KEY (id) NOT ENFORCED)
        WITH ('bucket.num' = '2')
    """)
    fsql.sql("INSERT INTO mrg_case VALUES (1, 'a', 1.0), (2, 'b', 2.0)")
    spark.createDataFrame(
        [(1, "x", 10.0), (2, "y", -5.0), (3, "z", 3.0)],
        "id long, kind string, v double",
    ).createOrReplaceTempView("mrg_case_src")
    # CASE in the clause condition AND in a SET expression, qualified
    # SET target, all in one statement
    fsql.sql("""
        MERGE INTO mrg_case AS t USING mrg_case_src AS s ON t.id = s.id
        WHEN MATCHED AND CASE WHEN s.v > 0 THEN true ELSE false END
            THEN UPDATE SET t.v = CASE WHEN s.v > 5 THEN s.v ELSE t.v + s.v END,
                            kind = s.kind
        WHEN MATCHED THEN DELETE
        WHEN NOT MATCHED THEN INSERT *
    """)
    got = {r["id"]: (r["kind"], r["v"])
           for r in fsql.sql("SELECT * FROM fluss_mrg_case__snapshot").collect()}
    # id=1: matched, s.v=10 > 0 -> update, s.v > 5 -> v = 10; id=2:
    # s.v=-5 -> first clause false -> DELETE; id=3: inserted via *
    assert got == {1: ("x", 10.0), 3: ("z", 3.0)}
    # UPDATE SET * updates every non-pk column by name from the source
    spark.createDataFrame(
        [(1, "star", 99.0)], "id long, kind string, v double"
    ).createOrReplaceTempView("mrg_case_src2")
    fsql.sql("""
        MERGE INTO mrg_case t USING mrg_case_src2 s ON t.id = s.id
        WHEN MATCHED THEN UPDATE SET *
    """)
    got = {r["id"]: (r["kind"], r["v"])
           for r in fsql.sql("SELECT * FROM fluss_mrg_case__snapshot").collect()}
    assert got[1] == ("star", 99.0)
    # a SET qualifier that is not the target alias is rejected
    with pytest.raises(SqlParseError, match="does not reference the MERGE target"):
        fsql.sql(
            "MERGE INTO mrg_case t USING mrg_case_src2 s ON t.id = s.id "
            "WHEN MATCHED THEN UPDATE SET s.v = 1.0"
        )
    # SET * is meaningless without a source row
    with pytest.raises(SqlParseError, match="not valid for NOT MATCHED BY"):
        fsql.sql(
            "MERGE INTO mrg_case t USING mrg_case_src2 s ON t.id = s.id "
            "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET *"
        )


def test_dispatch_normalizes_keyword_whitespace(spark, fsql):
    """Multiple spaces / newlines between statement keywords must still
    route to the session's own handlers (and their guards), not fall
    through to raw spark.sql — 'MERGE  INTO' once bypassed the MERGE
    handler entirely because dispatch matched a single space only."""
    fsql.sql("""
        CREATE TABLE wsm (id BIGINT, v DOUBLE, PRIMARY KEY (id) NOT ENFORCED)
        WITH ('bucket.num' = '1')
    """)
    fsql.sql("INSERT INTO wsm VALUES (1, 1.0), (2, 2.0)")
    fsql.sql("""
        CREATE TABLE wsm_src (id BIGINT, v DOUBLE, PRIMARY KEY (id) NOT ENFORCED)
        WITH ('bucket.num' = '1')
    """)
    fsql.sql("INSERT INTO wsm_src VALUES (2, 20.0), (3, 3.0)")
    fsql.sql(
        "MERGE  INTO wsm AS t USING fluss_wsm_src__snapshot AS s ON t.id = s.id\n"
        "WHEN MATCHED THEN UPDATE SET v = s.v\n"
        "WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)"
    )
    got = {r["id"]: r["v"] for r in fsql.sql("SELECT * FROM fluss_wsm__snapshot").collect()}
    assert got == {1: 1.0, 2: 20.0, 3: 3.0}
    # newline between DELETE FROM keywords routes to the delete handler
    fsql.sql("DELETE\nFROM wsm WHERE id = 1")
    assert fsql.sql("SELECT count(*) AS c FROM fluss_wsm__snapshot").collect()[0]["c"] == 2


def test_collection_cluster_configs_and_lease_procedures(spark, fsql):
    """append/subtract_cluster_configs manage COLLECTION-type config
    values as (key, value) pairs (reference procedures.md:249-316);
    drop_kv_snapshot_lease releases a lease id across every pk table
    (the lease-remnant cleanup path, procedures.md 'kv snapshot
    lease')."""
    out = fsql.sql(
        "CALL sys.append_cluster_configs("
        "'security.sasl.plain.credentials', 'bob:bob-secret',"
        "'security.sasl.plain.credentials', 'alice:alice-secret')"
    ).collect()
    assert out[0][0] == 'security.sasl.plain.credentials="bob:bob-secret,alice:alice-secret"'
    # append is idempotent per value
    fsql.sql("CALL sys.append_cluster_configs('security.sasl.plain.credentials', 'bob:bob-secret')")
    out = fsql.sql(
        "CALL sys.subtract_cluster_configs('security.sasl.plain.credentials', 'bob:bob-secret')"
    ).collect()
    assert out[0][0] == 'security.sasl.plain.credentials="alice:alice-secret"'

    fsql.sql("""
        CREATE TABLE lsd (id BIGINT, v DOUBLE, PRIMARY KEY (id) NOT ENFORCED)
        WITH ('bucket.num' = '1')
    """)
    fsql.sql("INSERT INTO lsd VALUES (1, 1.0)")
    fsql.admin.create_kv_snapshot_lease("fluss", "lsd", "job-42", 3_600_000)
    assert [l.lease_id for l in fsql.admin.list_kv_snapshot_leases("fluss", "lsd")] == ["job-42"]
    out = fsql.sql("CALL sys.drop_kv_snapshot_lease(leaseId => 'job-42')").collect()
    assert out[0][0] == "dropped_lease=job-42 tables=1"
    assert fsql.admin.list_kv_snapshot_leases("fluss", "lsd") == []
    # idempotent on an unknown lease
    out = fsql.sql("CALL sys.drop_kv_snapshot_lease('nope')").collect()
    assert out[0][0] == "dropped_lease=nope tables=0"


def test_call_snapshot_diff(spark, fsql):
    """CALL sys.snapshot_diff(table, v1[, v2]) — the engine-state diff
    (t15) through the SQL surface: I/U/D net changes between two
    commit versions, O(delta) changelog-slice read underneath."""
    fsql.sql("""
        CREATE TABLE sd (k BIGINT NOT NULL, v STRING, PRIMARY KEY (k))
        WITH ('bucket.num' = '2')
    """)
    fsql.sql("INSERT INTO sd VALUES (1, 'a'), (2, 'b')")          # commit 1
    fsql.sql("INSERT INTO sd VALUES (2, 'b2'), (3, 'c')")         # commit 2
    fsql.sql("DELETE FROM sd WHERE k = 1")                        # commit 3

    got = {
        (r["k"], r["change"], r["old_v"], r["new_v"])
        for r in fsql.sql("CALL sys.snapshot_diff(table => 'sd', v1 => 1)").collect()
    }
    assert got == {
        (1, "D", "a", None),
        (2, "U", "b", "b2"),
        (3, "I", None, "c"),
    }
    # explicit v2 bound: the delete in commit 3 is outside the window
    got12 = {
        (r["k"], r["change"])
        for r in fsql.sql("CALL sys.snapshot_diff('sd', 1, 2)").collect()
    }
    assert got12 == {(2, "U"), (3, "I")}
    with pytest.raises(ValueError, match="no such commit"):
        fsql.sql("CALL sys.snapshot_diff(table => 'sd', v1 => 99)")


def test_call_snapshot_diff_authorization(spark, tmp_path):
    """snapshot_diff returns table DATA, so it is READ-gated (not the
    maintenance procedures' ALTER): a principal with no grant is
    refused; a READ grant suffices."""
    from fluss_spark.security import (
        AccessControlEntry,
        AclBinding,
        AuthorizationError,
        FlussPrincipal,
        Resource,
        create_acls,
    )

    catalog = Catalog(str(tmp_path / "wh"))
    root = FlussSqlSession(catalog, spark, principal="root", super_users=["User:root"])
    root.sql(
        "CREATE TABLE fluss.sda (k BIGINT NOT NULL, v STRING, PRIMARY KEY (k)) "
        "WITH ('bucket.num' = '1')"
    )
    root.sql("INSERT INTO fluss.sda VALUES (1, 'a')")
    root.sql("INSERT INTO fluss.sda VALUES (1, 'a2')")

    nobody = FlussSqlSession(catalog, spark, principal="nobody")
    with pytest.raises(AuthorizationError):
        nobody.sql("CALL sys.snapshot_diff(table => 'sda', v1 => 1)")

    create_acls(
        catalog,
        [AclBinding(
            Resource.table("fluss", "sda"),
            AccessControlEntry(FlussPrincipal("reader"), "READ"),
        )],
    )
    reader = FlussSqlSession(catalog, spark, principal="reader")
    rows = reader.sql("CALL sys.snapshot_diff(table => 'sda', v1 => 1)").collect()
    assert {(r["k"], r["change"]) for r in rows} == {(1, "U")}


def test_sessions_store_queryable_through_sql(spark, fsql):
    """The t14 sessions store is an ordinary pk table — the documented
    pattern for querying engine state is plain SQL over its registered
    view (snapshot = current sessions), with FlussSqlSession enforcing
    the same READ path as any table. No bespoke reader required."""
    fsql.sql("""
        CREATE TABLE sessions (
            user_id BIGINT NOT NULL,
            session_start TIMESTAMP NOT NULL,
            last_ts TIMESTAMP,
            n_events BIGINT,
            cents BIGINT,
            PRIMARY KEY (user_id, session_start)
        ) WITH ('bucket.num' = '2', 'bucket.key' = 'user_id')
    """)
    fsql.sql(
        "INSERT INTO sessions VALUES "
        "(7, TIMESTAMP '2026-01-01 10:00:00', TIMESTAMP '2026-01-01 10:20:00', 4, 250), "
        "(7, TIMESTAMP '2026-01-01 12:00:00', TIMESTAMP '2026-01-01 12:05:00', 2, 100), "
        "(9, TIMESTAMP '2026-01-01 11:00:00', TIMESTAMP '2026-01-01 11:30:00', 6, 999)"
    )
    got = fsql.sql("""
        SELECT user_id,
               count(*) AS n_sessions,
               CAST(sum(cents) AS BIGINT) / 100.0 AS total_value
        FROM fluss_sessions
        GROUP BY user_id ORDER BY user_id
    """).collect()
    assert [(r["user_id"], r["n_sessions"], float(r["total_value"])) for r in got] == [
        (7, 2, 3.5),
        (9, 1, 9.99),
    ]
