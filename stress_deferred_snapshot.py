"""Scale probe: deferred materialization (table.snapshot.defer-commits=K)
must amortize copy-on-write snapshot amplification on high-frequency
small commits that SPRAY keys across many (partition, bucket) units.

With per-commit materialization, N small commits each rewrite every
touched unit — a spray workload rewrites ~the whole table N times.
With K-deferral the same N commits are WAL-only and the table is
rewritten ~N/K times, so total snapshot bytes written should drop by
~K x (the probe asserts >= 2x at K=4) while every scan stays
byte-identical to the eager twin.

Not part of the test suite — a scratch tool, same role as
stress_partitioned_pk.py.
"""

import os
import shutil
import tempfile
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
spark = (
    SparkSession.builder.master(f"local[{cpus}]")
    .appName("fluss_spark")
    .config("spark.sql.shuffle.partitions", str(cpus))
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.driver.memory", "24g")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

from fluss_spark.catalog import Catalog  # noqa: E402
from fluss_spark.table import create_table  # noqa: E402
from fluss_spark.types import Field, TableSchema  # noqa: E402

ROWS_SEED = int(os.environ.get("SEED_ROWS", "200000"))
N_COMMITS = int(os.environ.get("N_COMMITS", "12"))
BATCH = int(os.environ.get("BATCH_ROWS", "2000"))
K = int(os.environ.get("DEFER_K", "4"))
BUCKETS = 16

wh = tempfile.mkdtemp(prefix="fluss_defer_stress_")
cat = Catalog(wh)


def tree_bytes(root):
    total = 0
    for r, _d, files in os.walk(root):
        for fn in files:
            total += os.path.getsize(os.path.join(r, fn))
    return total


def mk(name, props):
    schema = TableSchema(
        fields=[Field("k", "BIGINT", nullable=False), Field("v", "STRING")],
        primary_key=["k"],
        num_buckets=BUCKETS,
        properties=props,
    )
    return create_table(cat, "db", name, schema)


def batch(i):
    # spray: stride the key space so every commit touches every bucket
    return (
        spark.range(BATCH)
        .select(
            ((F.col("id") * F.lit(N_COMMITS) + F.lit(i)) % F.lit(ROWS_SEED)).alias("k"),
            F.concat(F.lit(f"c{i}-"), F.col("id").cast("string")).alias("v"),
        )
    )


seed = spark.range(ROWS_SEED).select(
    F.col("id").alias("k"), F.concat(F.lit("seed-"), F.col("id")).alias("v")
)

results = {}
for name, props in [
    ("eager", {}),
    ("defer", {"table.snapshot.defer-commits": str(K)}),
]:
    t = mk(name, props)
    t.upsert(seed, ordering=["k"])
    sdir = t.kv.snapshot_dir
    base_bytes = tree_bytes(sdir)
    written = 0
    t0 = time.perf_counter()
    prev = base_bytes
    for i in range(N_COMMITS):
        before = tree_bytes(sdir)
        t.upsert(batch(i), ordering=["k"])
        after = tree_bytes(sdir)
        written += max(0, after - before)
    wall = time.perf_counter() - t0
    # flush any pending tail so both twins end fully materialized
    before = tree_bytes(sdir)
    t.kv.materialize(spark)
    written += max(0, tree_bytes(sdir) - before)
    results[name] = {"bytes": written, "wall": wall}
    print(
        f"{name:6s}: snapshot bytes written across {N_COMMITS} commits "
        f"(+ final flush) = {written/1e6:8.1f} MB, wall {wall:6.1f}s"
    )

from fluss_spark.table import FlussTable  # noqa: E402

ea = sorted(tuple(r) for r in FlussTable(cat, "db", "eager").snapshot(spark).collect())
de = sorted(tuple(r) for r in FlussTable(cat, "db", "defer").snapshot(spark).collect())
assert ea == de, "scan mismatch between eager and deferred twins"
ratio = results["eager"]["bytes"] / max(results["defer"]["bytes"], 1)
print(f"amplification ratio eager/deferred = {ratio:.2f}x (target >= 2x at K={K})")
assert ratio >= 2.0, ratio
shutil.rmtree(wh, ignore_errors=True)
print("OK")
