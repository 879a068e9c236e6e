"""Scale probe: per-commit cost of single-partition commits on a
partitioned pk table must be INDEPENDENT of the number of partitions.

The pair-granular snapshot manifest (sources/kv.py) confines the
snapshot rewrite to the (partition, bucket) pairs a commit touches;
before it, the bucket-granular manifest rewrote every touched bucket
ACROSS ALL PARTITIONS, so per-commit cost grew with table-wide
partition count. This probe fills a table with P partitions, then
commits a fixed-size batch into ONE partition and measures wall time
and bytes rewritten as P grows — both must stay flat.

Not part of the test suite — a scratch tool, same role as
stress_t14_t15.py.
"""

import glob
import os
import shutil
import sys
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

ROWS_PER_PART = 20_000
BATCH = 2_000


def snapshot_bytes(t):
    return sum(
        os.path.getsize(p)
        for p in glob.glob(f"{t.kv.snapshot_dir}/**/*.parquet", recursive=True)
    )


for n_parts in (4, 16, 64):
    wh = tempfile.mkdtemp(prefix=f"stress_part_{n_parts}_")
    cat = Catalog(wh)
    schema = TableSchema(
        fields=[
            Field("pt", "STRING", nullable=False),
            Field("k", "BIGINT", nullable=False),
            Field("v", "DOUBLE"),
        ],
        primary_key=["pt", "k"],
        partition_keys=["pt"],
        num_buckets=8,
        properties={"table.snapshot.auto-compact-dirs": "0"},
    )
    t = create_table(cat, "db", "p", schema)
    # fill: one commit per partition (realistic ingest; keeps each
    # partition's pairs in their own data dirs)
    fill = spark.range(ROWS_PER_PART).selectExpr(
        "CAST(id AS BIGINT) AS k", "CAST(id AS DOUBLE) / 7 AS v"
    )
    for p in range(n_parts):
        t.upsert(fill.selectExpr(f"'pt{p:03d}' AS pt", "k", "v"), ordering=["k"])
    bytes_before = snapshot_bytes(t)

    # measured: 3 fixed-size single-partition commits into pt000
    batch = spark.range(BATCH).selectExpr(
        "'pt000' AS pt", "CAST(id * 3 AS BIGINT) AS k", "CAST(id AS DOUBLE) AS v"
    )
    walls, deltas = [], []
    for _ in range(3):
        b0 = snapshot_bytes(t)
        t0 = time.time()
        t.upsert(batch, ordering=["k"])
        walls.append(round(time.time() - t0, 2))
        deltas.append(snapshot_bytes(t) - b0)
    mb = [round(d / 1e6, 2) for d in deltas]
    print(
        f"partitions={n_parts:3d} rows={n_parts * ROWS_PER_PART:>9,} "
        f"commit walls={walls} rewritten_mb={mb}",
        flush=True,
    )
    shutil.rmtree(wh, ignore_errors=True)
