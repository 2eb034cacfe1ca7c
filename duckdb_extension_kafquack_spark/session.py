"""SparkSession factory tuned for this engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]``; the configuration is
chosen so the same logical plans scale to a large cluster:

* AQE on (runtime shuffle coalescing, skew-join splitting) — at 100 TB
  static ``shuffle.partitions`` is always wrong, AQE re-plans from map
  output statistics.
* ``autoBroadcastJoinThreshold`` left at default so dimension tables
  (region/nation/supplier at any SF) broadcast instead of shuffling the
  fact table.
* Arrow enabled for the few pandas-UDF paths (vector kernels).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import cds, derived

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Spark keeps generated classes (whole-stage codegen, projections) in ONE
# static per-JVM LRU of `spark.sql.codegen.cache.maxEntries`, 100 by
# default.  Measured with CodegenMetrics in one process on 4 cores: the
# 208-query registry compiles ~2,550 distinct classes at sf0.01 (2,583 at
# sf0.1) and the perfbench corpus_curate mix ~260, so at 100 every warm
# repeat evicted and re-ran Janino (~150-176 recompiles per warm curate
# pass, 3,006 on a second registry pass; 4-14 and 90 at 4096).  4096
# holds the whole registry.  The conf is static: only get_spark sessions
# get it; a bare SparkSession built elsewhere keeps 100 — slower on
# repeats, never wrong.
CODEGEN_CACHE_ENTRIES = 4096


def get_spark(app_name: str = "kafquack-spark", *, shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) the session.

    ``shuffle_partitions`` defaults to the local core count — on a real
    cluster leave it high (or rely on AQE coalescing, which is enabled).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # events.parquet stores TIMESTAMP(NANOS); Spark has no ns timestamp —
        # read as long, normalize to µs in read_table (matches DuckDB's
        # ns→µs truncation on read).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # Python-worker tasks fork from the engine's daemon, which stops
        # each task re-reading pyspark.zip's directory (pyworker_daemon).
        # Static conf: a bare session keeps the stock pyspark.daemon.
        .config(
            "spark.python.daemon.module",
            "duckdb_extension_kafquack_spark.pyworker_daemon",
        )
        # generated-class cache sized to the engine's working set
        # (CODEGEN_CACHE_ENTRIES); static conf, so a bare session keeps 100
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # RocksDB state store (SURVEY §7.4): streaming state spills to
        # local disk instead of living on the JVM heap — session windows
        # and stateful dedup survive beyond toy state sizes.  Changelog
        # checkpointing uploads per-batch deltas, not full snapshots.
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
        .config(
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
            "true",
        )
    )
    # a fresh driver JVM starts from the host's class-data-sharing archive,
    # or records its classes so that one is built at exit (cds)
    with cds.driver_archive(builder):
        return builder.getOrCreate()


def ensure_session_conf(spark: SparkSession) -> None:
    """Settings our plans rely on, applied to ANY session (the driver
    builds its own SparkSession without :func:`get_spark`'s configs —
    without ``nanosAsLong`` every events.parquet read throws
    PARQUET_TYPE_ILLEGAL; both confs are runtime-settable SQLConfs)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # a bare session defaults to 200 shuffle partitions — on the local
    # gate that means 200 tasks per stateful-stream micro-batch; size to
    # the machine (runtime-settable; real clusters keep their own value
    # via SPARK_GRAFT_CPUS or AQE coalescing)
    import os as _os

    spark.conf.set(
        "spark.sql.shuffle.partitions", _os.environ.get("SPARK_GRAFT_CPUS", "32")
    )
    # streaming-state confs are read at query START, so setting them on a
    # live session covers the driver's bare SparkSession too
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true",
    )


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize ``events.ts`` to Spark TIMESTAMP regardless of the
    fixture's physical parquet layout.  Two layouts have shipped:

    * TIMESTAMP(NANOS) → long ns under ``nanosAsLong`` → integer-divide
      to µs (ns values ~1.7e18 overflow double precision), exactly what
      DuckDB does on read;
    * timestamp[us] with isAdjustedToUTC=false → Spark TIMESTAMP_NTZ →
      cast to TIMESTAMP (session TZ is UTC, so the cast is
      wall-clock-preserving and matches DuckDB's naive read).

    Every reader of events — batch ``read_table`` AND the streaming
    ``readStream`` paths — must route through this, since ``unix_micros``
    and ``withWatermark`` both reject TIMESTAMP_NTZ.
    """
    dtype = dict(df.dtypes).get("ts")
    if dtype == "bigint":
        df = df.withColumn(
            "ts", F.timestamp_micros(F.expr("ts DIV 1000").cast("long"))
        ).select("event_id", "ts", "user_id", "event_type", "value", "props")
    elif dtype == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table, normalizing types to the logical schema
    (see :func:`normalize_event_ts` for the ``events.ts`` rules)."""
    ensure_session_conf(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        df = normalize_event_ts(df)
    return df


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Load every fixture table as a DataFrame and register temp views.

    Parquet scans get column pruning + predicate pushdown from Catalyst
    for free; at 100 TB the same call reads a partitioned table and
    partition pruning applies — nothing here materializes on the driver.

    DataFrames are memoized per (session, sf_dir): they are immutable plan
    handles, and re-deriving them costs ~1 s of file listing + schema
    reads per call — pure overhead when a suite runs 79 queries against
    the same directory.  Temp views are (re-)registered whenever the
    session's active sf_dir changes so SQL names always resolve to the
    requested scale factor.  The session is named by its UUID, never
    ``id(spark)``: an id is reused once a session is collected.
    """
    ensure_session_conf(spark)
    session = spark._jsparkSession.sessionUUID()

    def read_all() -> dict[str, DataFrame]:
        return {
            name: read_table(spark, sf_dir, name)
            for name in TABLES
            if os.path.exists(os.path.join(sf_dir, f"{name}.parquet"))
        }

    cached = derived.get_or_build("tables", spark, (session, sf_dir), read_all)

    def register_views() -> str:
        for name, df in cached.items():
            df.createOrReplaceTempView(name)
        return sf_dir

    derived.get_or_build(
        "views", spark, session, register_views, valid=lambda active: active == sf_dir
    )
    return cached
