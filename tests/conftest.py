from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("FLUSS_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from fluss_spark.session import get_spark

    s = get_spark("fluss_spark_tests", cpus=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def spark_session(spark):
    # alias used by hypothesis-driven tests (function-scoped @given can't
    # take the fixture named 'spark' directly without re-entry issues)
    return spark



@pytest.fixture()
def keyed_read_probe(spark, monkeypatch):
    """Pin of a keyed read (`read()` -> DataFrame of table `table`):
    its physical plan is a LocalTableScan with no file scan and no
    Union, building and collecting it starts no Spark job (counted
    through a job group), and every file pyarrow opened lies under the
    `__bucket=<b>` dir of the one manifest dir owning the key's bucket,
    where b is computed by Spark's own pmod(hash(key), n). A key whose
    bucket no manifest dir holds — or `key_values=None`, a key no
    stored value can equal — opens no file at all. Returns the
    collected rows."""
    import uuid

    import pyarrow.dataset as pads
    from pyspark.sql import functions as F

    import plan_inspect as plans

    opened: list[str] = []
    real = pads.dataset

    def spy(source, *args, **kwargs):
        opened.extend(source if isinstance(source, (list, tuple)) else [source])
        return real(source, *args, **kwargs)

    monkeypatch.setattr(pads, "dataset", spy)

    def probe(table, read, key_values, key_ddl):
        opened.clear()
        sc = spark.sparkContext
        group = f"keyed-read-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "keyed read probe")
        try:
            df = read()
            plan = plans.physical_plan(df)
            rows = df.collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # job starts reach the tracker
        assert "LocalTableScan" in plan, plan
        for node in ("FileScan", "InMemoryFileIndex", "Union"):
            assert node not in plan, plan
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == 0
        if key_values is None:
            assert not opened, opened
            return rows
        key = spark.createDataFrame([tuple(key_values)], key_ddl)
        n = table.schema.num_buckets
        bucket = key.select(F.pmod(F.hash(*key.columns), F.lit(n))).first()[0]
        state = table.catalog.current_commit(table.db, table.name)
        data_dir = table.kv._manifest(state.snapshot_version).get(bucket)
        if data_dir is None:
            assert not opened, opened
            return rows
        leaf = os.path.join(table.kv.snapshot_dir, data_dir, f"__bucket={bucket}")
        assert opened and all(os.path.dirname(f) == leaf for f in opened), (leaf, opened)
        return rows

    return probe
