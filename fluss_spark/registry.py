"""Driver-facing query registry.

Every implemented operator from SURVEY.md §2 registers here:
  - a callable (spark, sf_dir) -> DataFrame (the Spark-native plan)
  - optionally an equivalent ANSI-SQL oracle string for DuckDB.

`__spark_entry__.py` re-exports these via queries()/oracle_sql().
Column names are aliased identically on both sides — the driver's
comparator hashes values after sorting columns by name.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register a driver-facing query, optionally with its oracle."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


_WORKER_PKG_SESSIONS: set[str] = set()


def ensure_worker_imports(spark: SparkSession) -> None:
    """Make `fluss_spark` importable on Spark PYTHON WORKERS regardless
    of the driver's cwd/PYTHONPATH: several Arrow kernels (codec probes,
    shared verify/merge helpers) are module-level functions, which
    cloudpickle serializes BY REFERENCE — the worker must import the
    package to unpickle them. A driver launched from outside the repo
    (sys.path.insert at runtime) does not propagate its sys.path to the
    forked workers, so ship the package once per session via addPyFile
    (the same mechanism a real cluster deployment uses)."""
    key = session_key(spark)
    if key in _WORKER_PKG_SESSIONS:
        return
    import io
    import os
    import tempfile
    import zipfile

    import fluss_spark
    from fluss_spark import fsops

    pkg_dir = os.path.dirname(os.path.abspath(fluss_spark.__file__))
    zpath = os.path.join(
        tempfile.gettempdir(), f"fluss_spark_pkg_{os.getpid()}.zip"
    )
    if not os.path.exists(zpath):
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w") as z:
            for root, _, files in os.walk(pkg_dir):
                for fn in files:
                    if fn.endswith(".py"):
                        full = os.path.join(root, fn)
                        rel = os.path.join(
                            "fluss_spark", os.path.relpath(full, pkg_dir)
                        )
                        z.write(full, rel)
        fsops.write_atomic(zpath, buf.getvalue())
    spark.sparkContext.addPyFile(zpath)
    _WORKER_PKG_SESSIONS.add(key)


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Read one driver testdata table (columnar Parquet scan; Catalyst
    prunes columns and pushes filters down to the reader).

    `events.ts` has shipped as Parquet TIMESTAMP(NANOS) (vectorized
    reader rejects it → read as long nanos, integer-DIV to micros) and as
    TIMESTAMP(MICROS) without UTC adjustment (reads as TIMESTAMP_NTZ).
    Normalize both to a session-tz TIMESTAMP so every downstream operator
    (unix_micros, bigint casts, window()) sees one type; the session tz
    is pinned UTC, so the NTZ→TZ cast is value-preserving.
    """
    from pyspark.sql import functions as F

    # oracle parity regardless of the caller's session: DuckDB timestamps
    # are UTC-naive, so all timestamp arithmetic must run in UTC
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ensure_worker_imports(spark)
    if table == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{table}.parquet")
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # integer DIV: nanos exceed double's exact range, so a float
            # division here drifts the low microsecond
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


def session_key(spark: SparkSession) -> str:
    """Stable cache key for a live session: id(spark) can be REUSED by a
    new session after the old one is garbage-collected, handing out stale
    persisted DataFrames bound to a dead context. applicationId changes
    with every new SparkContext."""
    return spark.sparkContext.applicationId


def load_spread(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """load() + spread across cores. The test tables are single-row-group
    parquet files (one input partition); operators that do heavy per-row
    compute (shingling, hashing, pairwise joins) need the rows spread
    BEFORE the compute. At corpus scale the file count provides this
    parallelism and this helper is a no-op to remove.

    The spread copy is persisted (once per session+table) through the
    cache registry (budgeted, LRU-unpersisted): a bare repartition is
    NOT a reliable parallelism barrier — Catalyst pushes deterministic
    projections and generator inputs below a round-robin exchange,
    which lands the heavy expression chain back on the
    single-partition scan task (measured 8-30x slower on the dedup
    family). Persisting pins the cores-wide layout; the test tables
    are MBs."""
    from fluss_spark import cache_registry

    n = spark.sparkContext.defaultParallelism
    # eager=False: the pre-registry behavior — the first consumer's job
    # materializes the spread as a side effect (one pass); an eager
    # count here would add a separate full-table job per session+table
    return cache_registry.cache_df(
        spark,
        ("spread", sf_dir, table),
        lambda: load(spark, sf_dir, table).repartition(n),
        eager=False,
    )


def corpus_rows(sf_dir: str, table: str) -> int:
    """Exact table row count from the Parquet footer — the same free
    metadata read A1's count(*) pushdown uses; no Spark job. LSH
    operators use it to derive signature widths from corpus size."""
    import os

    import pyarrow.parquet as pq

    return pq.read_metadata(os.path.join(sf_dir, f"{table}.parquet")).num_rows


def load_all_queries() -> None:
    """Import every module that registers queries (idempotent)."""
    import fluss_spark.operators.relational  # noqa: F401
    import fluss_spark.operators.tpch_extra  # noqa: F401
    import fluss_spark.operators.engine_queries  # noqa: F401
    import fluss_spark.operators.dedup  # noqa: F401
    import fluss_spark.operators.text  # noqa: F401
    import fluss_spark.operators.similarity  # noqa: F401
    import fluss_spark.operators.bitmap_queries  # noqa: F401
    import fluss_spark.operators.model  # noqa: F401
    import fluss_spark.operators.multimodal  # noqa: F401
    import fluss_spark.operators.sessionize  # noqa: F401
