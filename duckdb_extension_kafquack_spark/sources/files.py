"""File sources & sinks.

The reference is read-only with a single source (SURVEY §2.2 "sinks:
none"); its users rely on host DuckDB for file I/O.  The Spark-native
deployment gets these built-in — this module pins the idioms that
matter at 100 TB:

* partitioned writes (partition pruning on read),
* bucketed writes (co-located, shuffle-free joins/aggregations on the
  bucket key),
* streaming sinks (``writeStream`` to files, ``foreachBatch`` for
  arbitrary targets — e.g. producing back to Kafka).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def read_any(spark: SparkSession, path: str, fmt: str = "parquet", **options) -> DataFrame:
    """Thin reader: parquet/csv/json/orc with schema inference options."""
    return spark.read.format(fmt).options(**options).load(path)


def write_partitioned(
    df: DataFrame, path: str, partition_by: list[str], fmt: str = "parquet"
) -> None:
    """Hive-style partitioned layout → partition pruning for free on read.
    Choose low-cardinality keys (date, region); high-cardinality keys
    create a small-files problem at scale."""
    df.write.format(fmt).mode("overwrite").partitionBy(*partition_by).save(path)


def write_bucketed(
    df: DataFrame, table: str, bucket_by: str, num_buckets: int = 32, fmt: str = "parquet"
) -> None:
    """Bucketed managed table: joins/aggregations keyed on ``bucket_by``
    between tables with the same bucketing skip the shuffle entirely —
    the single biggest join optimization for repeated large-large joins.
    """
    (
        df.write.format(fmt)
        .mode("overwrite")
        .bucketBy(num_buckets, bucket_by)
        .sortBy(bucket_by)
        .saveAsTable(table)
    )


def stream_fan_out(
    df: DataFrame,
    checkpoint: str,
    sinks: dict[str, str],
    fmt: str = "parquet",
) -> "StreamingQuery":  # noqa: F821
    """One stream → several targets, consistently per micro-batch.

    ``sinks`` maps target path → filter expression (SQL string; "true"
    for all rows).  The batch DataFrame is persisted once so the N sink
    writes share a single evaluation of the upstream plan.

    Delivery is AT-LEAST-ONCE, not atomic across sinks: plain append
    writes are not transactional, so a failure after sink 1's write
    replays the whole batch on restart and duplicates rows in sinks that
    already committed.  For exactly-once, make the writes idempotent by
    batch id — e.g. ``.partitionBy("batch_id")`` with dynamic-partition
    ``overwrite`` (replaying batch N then rewrites, not re-appends, its
    partition), or a transactional table format.
    """

    def write_all(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            for path, predicate in sinks.items():
                batch_df.filter(predicate).write.mode("append").format(fmt).save(path)
        finally:
            batch_df.unpersist()

    return (
        df.writeStream.foreachBatch(write_all)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def stream_foreach_batch(
    df: DataFrame,
    checkpoint: str,
    fn: Callable[[DataFrame, int], None],
) -> "StreamingQuery":  # noqa: F821
    """foreachBatch escape hatch: per-micro-batch callable gets a *batch*
    DataFrame — the idiomatic way to sink a stream to targets without a
    native streaming writer (JDBC, Kafka producer with custom semantics,
    multi-table fan-out).  Batch id enables idempotent writes."""
    return (
        df.writeStream.foreachBatch(fn)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def compact_parquet(
    df: "DataFrame", path: str, target_rows_per_file: int = 1_000_000
) -> int:
    """Small-files compaction: rewrite ``df`` as ``ceil(rows/target)``
    parquet files — the table-maintenance job every long-lived 100 TB
    dataset needs (streaming sinks and over-parallel writers accrete
    thousands of KB-sized files whose open/footer cost eventually
    dominates scans).  The row count is one extra aggregate pass — a
    deliberate job-level scalar (a maintenance job runs rarely and must
    size its output exactly), not a per-row driver dependency.  Returns
    the file count written."""
    n = df.count()
    files = max(1, -(-n // target_rows_per_file))
    df.repartition(files).write.mode("overwrite").parquet(path)
    return files
