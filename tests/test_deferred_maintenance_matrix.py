"""Maintenance operations × pending deferred WAL tail — the pairwise
compositions (compact/tier/TTL/rebucket/drop-partition/schema-evolution
each running while `table.snapshot.defer-commits` has left an uncovered
tail). The contract for every cell: reads stay EXACT through the
operation and through the next materialization, or the composition is
refused loudly — never a silently partial state.

Reference frame: the tail plays RocksDB's memtable role
(server/kv/snapshot/ checkpoints are independent of log maintenance),
so log-side maintenance must treat uncovered WAL commits as the only
copy of their rows.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fluss_spark import maintenance
from fluss_spark.admin import Admin
from fluss_spark.catalog import Catalog
from fluss_spark.table import FlussTable, create_table
from fluss_spark.types import Field, TableSchema

# whole-file: property/matrix coverage — full-suite selection only
pytestmark = pytest.mark.slow


@pytest.fixture()
def catalog(tmp_path):
    return Catalog(str(tmp_path / "wh"))


def _mk(catalog, name, partitioned=False, defer=4, props=None):
    fields = [Field("k", "INT", nullable=False), Field("v", "STRING")]
    if partitioned:
        fields.insert(0, Field("dt", "STRING", nullable=False))
    p = {"table.snapshot.defer-commits": str(defer)}
    p.update(props or {})
    schema = TableSchema(
        fields=fields,
        primary_key=(["dt", "k"] if partitioned else ["k"]),
        partition_keys=(["dt"] if partitioned else []),
        num_buckets=4,
        properties=p,
    )
    return create_table(catalog, "db", name, schema)


def _rows(spark, tag, ks, part=None):
    if part is None:
        return spark.createDataFrame([(k, f"{tag}{k}") for k in ks], "k int, v string")
    return spark.createDataFrame(
        [(part, k, f"{tag}{k}") for k in ks], "dt string, k int, v string"
    )


def _snap(t, spark):
    cols = [f.name for f in t.schema.fields]
    return sorted(tuple(r[c] for c in cols) for r in t.snapshot(spark).collect())


def _seed_with_tail(t, spark, part=None):
    """One materialized commit + two WAL-only commits (pending tail).
    Returns the expected state rows."""
    mk = lambda tag, ks: _rows(spark, tag, ks, part)
    t.upsert(mk("a", range(8)))
    t.kv.materialize(spark)
    t.upsert(mk("b", range(4, 10)))
    t.upsert(mk("c", [0, 9, 12]))
    st = t.catalog.current_commit(t.db, t.name)
    assert t.kv._tail_start(st) is not None, "expected a pending tail"
    exp = {k: f"a{k}" for k in range(8)}
    exp.update({k: f"b{k}" for k in range(4, 10)})
    exp.update({k: f"c{k}" for k in [0, 9, 12]})
    if part is None:
        return sorted(exp.items())
    return sorted((part, k, v) for k, v in exp.items())


def test_compact_snapshot_with_pending_tail(spark, catalog):
    """Snapshot compaction folds the tail in (it rewrites from the
    tail-aware snapshot read) and afterwards claims coverage — reads
    identical before/after, no tail pending."""
    t = _mk(catalog, "csnap", defer=10)
    expected = _seed_with_tail(t, spark)
    assert maintenance.compact_snapshot(t, spark, max_dirs=0) is True
    st = catalog.current_commit("db", "csnap")
    assert st.snapshot_version == st.version  # tail absorbed
    assert _snap(t, spark) == expected
    # and the next commits keep deferring cleanly
    t.upsert(_rows(spark, "d", [1]))
    assert _snap(t, spark) == sorted({**dict(expected), 1: "d1"}.items())


def test_compact_log_with_pending_tail(spark, catalog):
    """Log compaction merges commit dirs but preserves offsets; the
    offset-bounded tail fold and the next materialization must stay
    exact (the compacted dir sits above snapshot_version, so touched
    discovery sees it)."""
    t = _mk(catalog, "clog", defer=10)
    expected = _seed_with_tail(t, spark)
    assert maintenance.compact_log(t, spark, target_commits=2) > 0
    assert _snap(t, spark) == expected
    t.kv.materialize(spark)
    st = catalog.current_commit("db", "clog")
    assert st.snapshot_version == st.version
    assert _snap(t, spark) == expected


def test_tier_log_with_pending_tail(spark, catalog):
    """Tiering moves sealed commits to the remote tier; uncovered tail
    commits remain readable through the union scan, and materialization
    folds them from wherever they live."""
    t = _mk(catalog, "ctier", defer=10)
    expected = _seed_with_tail(t, spark)
    moved = maintenance.tier_log(t, local_segments=1)
    assert moved > 0
    assert _snap(t, spark) == expected
    t.kv.materialize(spark)
    assert _snap(t, spark) == expected


def test_ttl_never_expires_uncovered_tail(spark, catalog):
    """W5 × deferral: WAL commits above snapshot_version are the only
    copy of their rows — TTL must skip them no matter how old, and
    still expire covered history."""
    t = _mk(
        catalog, "cttl", defer=10, props={"table.log.ttl": "1ms"}
    )
    expected = _seed_with_tail(t, spark)
    # cutoff far in the future: everything is "old enough" to expire
    deleted = maintenance.expire_log_ttl(
        t, spark, now_ms=2**60
    )
    # the covered commit (v1, materialized at v2) may go; the two tail
    # commits must survive
    assert _snap(t, spark) == expected
    local, remote = t.log.committed_dirs()
    st = catalog.current_commit("db", "cttl")
    tail_dirs = [v for v in list(local) + list(remote) if v > st.snapshot_version]
    assert len(tail_dirs) == 2, (deleted, local, remote)
    t.kv.materialize(spark)
    assert _snap(t, spark) == expected


def test_rebucket_with_pending_tail(spark, catalog):
    """Rebucket rewrites the whole log AND the snapshot from the
    tail-aware read — afterwards the state is identical under the new
    routing and nothing is pending."""
    t = _mk(catalog, "crb", defer=10)
    expected = _seed_with_tail(t, spark)
    maintenance.rebucket_table(t, spark, new_buckets=7)
    t2 = FlussTable(catalog, "db", "crb")  # fresh handle: new schema
    assert t2.schema.num_buckets == 7
    assert _snap(t2, spark) == expected
    st = catalog.current_commit("db", "crb")
    assert st.snapshot_version == st.version
    # keyed reads route with the new count
    assert t2.kv.lookup(spark, {"k": 12}).collect()[0]["v"] == "c12"


def test_rebucket_before_first_materialization(spark, catalog):
    """All state still in the WAL tail (snapshot_version = -1): the
    rebucketed log remains the only copy and reads must fold it."""
    t = _mk(catalog, "crb0", defer=10)
    t.upsert(_rows(spark, "a", range(6)))
    t.upsert(_rows(spark, "b", [2, 3]))
    st = catalog.current_commit("db", "crb0")
    assert st.snapshot_version == -1
    maintenance.rebucket_table(t, spark, new_buckets=3)
    t2 = FlussTable(catalog, "db", "crb0")
    expected = sorted({**{k: f"a{k}" for k in range(6)}, 2: "b2", 3: "b3"}.items())
    assert _snap(t2, spark) == expected
    t2.kv.materialize(spark)
    assert _snap(t2, spark) == expected


def test_drop_partition_with_tail_only_rows(spark, catalog):
    """A partition whose rows live ONLY in the uncovered tail: dropping
    it must leave no trace (delete fold + dir removal)."""
    t = _mk(catalog, "cdp1", partitioned=True, defer=10)
    t.upsert(_rows(spark, "a", range(4), part="p1"))
    t.kv.materialize(spark)
    t.upsert(_rows(spark, "x", range(3), part="p2"))  # tail-only partition
    Admin(catalog).drop_partition("db", "cdp1", {"dt": "p2"}, spark=spark)
    assert _snap(t, spark) == sorted(("p1", k, f"a{k}") for k in range(4))
    t.kv.materialize(spark)
    assert _snap(t, spark) == sorted(("p1", k, f"a{k}") for k in range(4))


def test_drop_partition_with_materialized_rows_and_pending_tail(spark, catalog):
    """The resurrection hazard: the partition is MATERIALIZED and the
    delete commit lands WAL-only — dropping the WAL dirs would erase
    the only -D record. drop_partition must fold the tail before
    removing dirs, so the manifest's pairs die with the rows."""
    t = _mk(catalog, "cdp2", partitioned=True, defer=10)
    t.upsert(_rows(spark, "a", range(4), part="p1"))
    t.upsert(_rows(spark, "m", range(5), part="p2"))
    t.kv.materialize(spark)  # both partitions materialized
    t.upsert(_rows(spark, "n", [1, 7], part="p2"))  # p2 also in the tail
    Admin(catalog).drop_partition("db", "cdp2", {"dt": "p2"}, spark=spark)
    assert _snap(t, spark) == sorted(("p1", k, f"a{k}") for k in range(4))
    # no pending tail may claim otherwise later
    t.kv.materialize(spark)
    assert _snap(t, spark) == sorted(("p1", k, f"a{k}") for k in range(4))
    # manifest holds no p2 pairs
    st = catalog.current_commit("db", "cdp2")
    manifest = t.kv._manifest(st.snapshot_version) or {}
    assert not [pp for pp, _b in manifest if "p2" in pp], manifest


def test_schema_add_column_with_pending_tail(spark, catalog):
    """ALTER TABLE ADD COLUMN while a tail is pending: old tail files
    lack the column; reads and the next materialization surface NULLs
    for pre-alter rows and real values for post-alter ones."""
    from fluss_spark.sql_ddl import FlussSqlSession

    t = _mk(catalog, "cschema", defer=10)
    t.upsert(_rows(spark, "a", range(4)))
    t.kv.materialize(spark)
    t.upsert(_rows(spark, "b", [1, 5]))  # pending tail, old schema
    fsql = FlussSqlSession(catalog, spark)
    fsql.sql("ALTER TABLE db.cschema ADD COLUMN w INT")
    t2 = FlussTable(catalog, "db", "cschema")
    t2.upsert(
        spark.createDataFrame([(9, "c9", 99)], "k int, v string, w int")
    )
    rows = sorted(
        (r["k"], r["v"], r["w"]) for r in t2.snapshot(spark).collect()
    )
    expected = sorted(
        [(0, "a0", None), (1, "b1", None), (2, "a2", None), (3, "a3", None),
         (5, "b5", None), (9, "c9", 99)]
    )
    assert rows == expected
    t2.kv.materialize(spark)
    assert sorted(
        (r["k"], r["v"], r["w"]) for r in t2.snapshot(spark).collect()
    ) == expected
