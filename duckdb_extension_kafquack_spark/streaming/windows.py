"""Event-time windowing: tumbling / sliding / session, batch + streaming.

The reference has zero event-time machinery (its only stream semantics
is the per-message offset commit, kafquack_extension.cpp:199-204); this
module supplies the streaming capability a Spark-native deployment gets:
``window`` / ``session_window`` aggregations that run identically over a
static DataFrame (oracle-checkable) and over a Structured Stream with
watermarks (``readStream`` + ``trigger(availableNow=True)`` — the
Spark idiom for the reference's "drain what's there now" read).

Scale notes: windowed aggregation shuffles on (key, window) — uniform
unless one key dominates (then salt or enable AQE skew handling, both
on by default here).  Watermark delay bounds state size; session
windows need the RocksDB state store beyond toy scale (SURVEY §7.4).
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import derived
from ..session import load_tables, read_table
from ..suite import query

TUMBLE = "1 hour"
SLIDE_WIN = "1 hour"
SLIDE_STEP = "30 minutes"
SESSION_GAP = "30 minutes"


def tumbling_counts(events: DataFrame) -> DataFrame:
    return (
        events.groupBy(
            F.window("ts", TUMBLE).alias("w"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            "total_value",
        )
    )


_TUMBLING_ORACLE = """
SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
       time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour' AS window_end,
       event_type,
       COUNT(*) AS n,
       ROUND(SUM(value), 2) AS total_value
FROM events
GROUP BY 1, 2, 3
"""


@query("tumbling_window", _TUMBLING_ORACLE)
def tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tumbling_counts(load_tables(spark, sf_dir)["events"])


@query(
    "sliding_window",
    """
SELECT time_bucket(INTERVAL '30 minutes', ts) - (o.i * INTERVAL '30 minutes') AS window_start,
       time_bucket(INTERVAL '30 minutes', ts) - (o.i * INTERVAL '30 minutes') + INTERVAL '1 hour' AS window_end,
       COUNT(*) AS n,
       ROUND(AVG(value), 6) AS avg_value
FROM events, (VALUES (0), (1)) o(i)
GROUP BY 1, 2
""",
)
def sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1h windows every 30min: each event lands in exactly 2 windows —
    Spark duplicates rows into overlapping windows; the oracle models the
    same with an offset cross join."""
    ev = load_tables(spark, sf_dir)["events"]
    return (
        ev.groupBy(F.window("ts", SLIDE_WIN, SLIDE_STEP).alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.avg("value"), 6).alias("avg_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n",
            "avg_value",
        )
    )


@query(
    "session_window",
    """
WITH ordered AS (
  SELECT user_id, ts, value,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   >= INTERVAL '30 minutes'
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_sess
  FROM events
), numbered AS (
  SELECT user_id, ts, value,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
  FROM ordered
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL '30 minutes' AS session_end,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 2) AS session_value
FROM numbered
GROUP BY user_id, sess_id
""",
)
def session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based session windows (Spark ``session_window``); the oracle is
    the classic islands construction (lag → gap flag → running sum)."""
    ev = load_tables(spark, sf_dir)["events"]
    return (
        ev.groupBy(F.session_window("ts", SESSION_GAP).alias("w"), F.col("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("session_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "session_value",
        )
    )


# ---------------------------------------------------------------------------
# true Structured Streaming entries (readStream → memory sink)
# ---------------------------------------------------------------------------

def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..session import ensure_session_conf, normalize_event_ts

    ensure_session_conf(spark)
    static = spark.read.parquet(f"{sf_dir}/events.parquet")
    # FileStreamSource wants a directory; select just the events file
    ev = (
        spark.readStream.schema(static.schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    # withWatermark rejects both bigint and TIMESTAMP_NTZ event time —
    # normalize exactly like the batch reader (session.normalize_event_ts)
    return normalize_event_ts(ev)


def run_stream_to_table(df: DataFrame, name: str, mode: str = "complete") -> None:
    """Drain an unbounded query with availableNow into an in-memory table —
    bounded-read parity with the reference's interactive scan (SURVEY §2.1)."""
    with tempfile.TemporaryDirectory(prefix=f"ckpt_{name}_") as ckpt:
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()


def run_paced_stream_to_table(
    df: DataFrame,
    name: str,
    done,
    mode: str = "complete",
    timeout_s: float = 300.0,
) -> None:
    """Drain a RATE-LIMITED stream through real repeating micro-batches
    (processingTime trigger) until ``done(spark)`` reports the sink has
    caught up, then stop.  availableNow can't exercise pacing for Python
    sources (the fallback is one batch), so this is the harness that
    proves multi-micro-batch offset management end-to-end."""
    import time as _time

    spark = df.sparkSession
    # a STALE memory table from a prior run of the same query (shared
    # session, e.g. two test modules running the registry) would let
    # done(spark) observe the old, already-complete data in the window
    # before the new sink registers its view — stopping the stream
    # before its first batch.  Drop it so done() only ever sees the
    # fresh sink's state.
    try:
        spark.catalog.dropTempView(name)
    except Exception:
        pass
    with tempfile.TemporaryDirectory(prefix=f"ckpt_{name}_") as ckpt:
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="250 milliseconds")
            .start()
        )
        try:
            deadline = _time.time() + timeout_s
            while _time.time() < deadline:
                if done(spark):
                    break
                # a crashed stream must surface its own error immediately,
                # not spin until TimeoutError masks it
                exc = q.exception()
                if exc is not None:
                    raise exc
                if not q.isActive:
                    raise RuntimeError(
                        f"paced stream {name!r} stopped before catching up"
                    )
                _time.sleep(0.5)
            else:
                raise TimeoutError(
                    f"paced stream {name!r} did not catch up in {timeout_s}s"
                )
        finally:
            import os as _os
            import sys as _sys
            if _os.environ.get("KAFQUACK_STREAM_DEBUG"):
                for p in q.recentProgress:
                    so = p["sources"][0]
                    print(
                        f"PACED-DEBUG batch={p['batchId']} in={p['numInputRows']} "
                        f"{so['startOffset']}->{so['endOffset']}",
                        file=_sys.stderr,
                    )
            q.stop()


@query(
    "hierarchical_rollup",
    """
SELECT time_bucket(INTERVAL '1 day', ts) AS day_start,
       event_type,
       COUNT(*) AS n,
       ROUND(SUM(value), 2) AS total_value
FROM events
GROUP BY 1, 2
""",
)
def hierarchical_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate: the daily rollup is computed
    FROM the hourly rollup (re-aggregating partials), not by rescanning
    raw events — the pattern that makes multi-resolution dashboards
    O(hours) instead of O(events) at 100 TB.  The oracle aggregates raw
    directly; equality proves the hierarchy is lossless (sum/count are
    associative; the rounding happens only at the final level)."""
    ev = load_tables(spark, sf_dir)["events"]
    hourly = ev.groupBy(
        F.window("ts", "1 hour").alias("w"), F.col("event_type")
    ).agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value"))
    daily = (
        hourly.select(
            F.date_trunc("day", F.col("w.start")).alias("day_start"),
            "event_type",
            "n",
            "sum_value",
        )
        .groupBy("day_start", "event_type")
        .agg(
            F.sum("n").alias("n"),
            F.round(F.sum("sum_value"), 2).alias("total_value"),
        )
    )
    return daily


_SLIDING_ORACLE = """
SELECT time_bucket(INTERVAL '30 minutes', ts) - (o.i * INTERVAL '30 minutes') AS window_start,
       time_bucket(INTERVAL '30 minutes', ts) - (o.i * INTERVAL '30 minutes') + INTERVAL '1 hour' AS window_end,
       COUNT(*) AS n,
       ROUND(AVG(value), 6) AS avg_value
FROM events, (VALUES (0), (1)) o(i)
GROUP BY 1, 2
"""


@query("streaming_sliding_window", _SLIDING_ORACLE)
def streaming_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding (hopping) windows over the live stream — each event feeds
    two overlapping window states; complete-mode drain vs the offset
    cross-join oracle."""
    ev = _events_stream(spark, sf_dir).withWatermark("ts", "1 day")
    agg = ev.groupBy(F.window("ts", SLIDE_WIN, SLIDE_STEP).alias("w")).agg(
        F.count(F.lit(1)).alias("n"), F.round(F.avg("value"), 6).alias("avg_value")
    )
    out = agg.select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        "n",
        "avg_value",
    )
    run_stream_to_table(out, "stream_sliding_window", "complete")
    return spark.table("stream_sliding_window")


_SESSION_ORACLE = """
WITH ordered AS (
  SELECT user_id, ts, value,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   >= INTERVAL '30 minutes'
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_sess
  FROM events
), numbered AS (
  SELECT user_id, ts, value,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
  FROM ordered
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL '30 minutes' AS session_end,
       COUNT(*) AS n_events
FROM numbered
GROUP BY user_id, sess_id
"""


@query("streaming_session_window", _SESSION_ORACLE)
def streaming_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows over the live stream (stateful window merging —
    sessions grow/merge as events arrive); availableNow drain in complete
    mode, checked against the batch islands oracle."""
    ev = _events_stream(spark, sf_dir).withWatermark("ts", "1 day")
    agg = ev.groupBy(
        F.session_window("ts", SESSION_GAP).alias("w"), F.col("user_id")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    out = agg.select(
        "user_id",
        F.col("w.start").alias("session_start"),
        F.col("w.end").alias("session_end"),
        "n_events",
    )
    run_stream_to_table(out, "stream_session_window", "complete")
    return spark.table("stream_session_window")


@query("streaming_tumbling_window", _TUMBLING_ORACLE)
def streaming_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME tumbling aggregation, executed as a real Structured
    Streaming job (file stream → watermark → windowed agg → memory sink,
    availableNow trigger) — and checked against the SAME batch oracle:
    stream/batch result parity, Spark's replacement for the reference's
    blocking scan loop."""
    agg = tumbling_counts(_events_stream(spark, sf_dir).withWatermark("ts", "1 day"))
    run_stream_to_table(agg, "stream_tumbling", "complete")
    return spark.table("stream_tumbling")


@query(
    "streaming_dedup",
    """
SELECT event_type, COUNT(*) AS n_unique_users
FROM (SELECT DISTINCT event_type, user_id FROM events)
GROUP BY event_type
""",
)
def streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming dropDuplicates (exactly-once per key within the
    stream) + aggregation, drained via availableNow; oracle = batch
    DISTINCT."""
    ev = _events_stream(spark, sf_dir)
    dedup = ev.select("event_type", "user_id").dropDuplicates(["event_type", "user_id"])
    agg = dedup.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_unique_users"))
    run_stream_to_table(agg, "stream_dedup", "complete")
    return spark.table("stream_dedup")


def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static broadcast join: unbounded events against the static
    nation dimension — stateless, no watermark needed."""
    ev = _events_stream(spark, sf_dir)
    nation = read_table(spark, sf_dir, "nation")
    joined = ev.withColumn("nationkey", (F.col("user_id") % 25).cast("int")).join(
        F.broadcast(nation), F.col("nationkey") == F.col("n_nationkey")
    )
    agg = joined.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )
    run_stream_to_table(agg, "stream_static_join", "complete")
    return spark.table("stream_static_join")


query(
    "streaming_stream_static_join",
    """
SELECT n_name, COUNT(*) AS n_events, ROUND(SUM(value), 2) AS total_value
FROM events JOIN nation ON CAST(user_id % 25 AS INTEGER) = n_nationkey
GROUP BY n_name
""",
)(stream_static_join)


@query(
    "streaming_stream_stream_join",
    """
SELECT p.event_id AS purchase_id, s.event_id AS signup_id, p.user_id
FROM events p JOIN events s
  ON p.user_id = s.user_id
 AND p.event_type = 'purchase' AND s.event_type = 'signup'
 AND s.ts BETWEEN p.ts - INTERVAL '2 hours' AND p.ts
""",
)
def streaming_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with watermarks + event-time range
    condition (purchases joined to signups of the same user within the
    preceding 2 h).  Both sides are unbounded; the range bound + the
    watermark let Spark expire join state — without them state grows
    forever.  Oracle = the equivalent batch interval join."""
    purchases = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    signups = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "signup")
        .select(
            F.col("event_id").alias("signup_id"),
            F.col("user_id").alias("s_user_id"),
            F.col("ts").alias("s_ts"),
        )
        .withWatermark("s_ts", "1 hour")
    )
    joined = purchases.join(
        signups,
        (F.col("user_id") == F.col("s_user_id"))
        & (F.col("s_ts") >= F.col("p_ts") - F.expr("INTERVAL 2 HOURS"))
        & (F.col("s_ts") <= F.col("p_ts")),
    ).select("purchase_id", "signup_id", "user_id")
    run_stream_to_table(joined, "stream_stream_join", "append")
    return spark.table("stream_stream_join")


@query(
    "streaming_window_distinct",
    """
SELECT time_bucket(INTERVAL '1 day', ts) AS day_start,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS within_error
FROM events GROUP BY 1
""",
)
def streaming_window_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day distinct users inside one real streaming job, both ways:
    exact via the stateful ``dropDuplicates`` → count chain (streaming
    COUNT DISTINCT is unsupported directly — dedup state IS the distinct
    set) and sketched via ``approx_count_distinct`` over the deduped
    stream (the mergeable-HLL path whose state is constant per window at
    100 TB).  Like ``approx_distinct``, the sketch estimate can't
    hash-match across engines, so the hashed surface is the exact count
    plus a bounded-error boolean |approx − exact| ≤ 5·rsd·exact; the
    oracle's boolean is literal TRUE."""
    rsd = 0.05
    ev = _events_stream(spark, sf_dir)
    pairs = ev.select(
        F.date_trunc("day", F.col("ts")).alias("day_start"), "user_id"
    ).dropDuplicates(["day_start", "user_id"])
    agg = pairs.groupBy("day_start").agg(
        F.count(F.lit(1)).alias("exact_users"),
        F.approx_count_distinct("user_id", rsd).alias("approx_users"),
    )
    run_stream_to_table(agg, "stream_window_distinct", "complete")
    return spark.table("stream_window_distinct").select(
        "day_start",
        "exact_users",
        (
            F.abs(F.col("approx_users") - F.col("exact_users"))
            <= 5 * rsd * F.col("exact_users")
        ).alias("within_error"),
    )


@query(
    "streaming_kafka_datasource",
    """
SELECT CAST(user_id % 4 AS INTEGER) AS "partition",
       CAST(COUNT(*) AS BIGINT) AS messages,
       CAST(MAX(event_id) AS BIGINT) AS max_offset,
       CAST(COUNT(*) FILTER (WHERE event_id % 101 = 0) AS BIGINT) AS error_rows
FROM events
GROUP BY 1
""",
)
def streaming_kafka_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The kafquack Python Data Source's STREAM reader driven end-to-end:
    ``spark.readStream.format("kafquack")`` → per-partition aggregate →
    memory sink, checked against the batch oracle.  Python streaming
    sources don't support availableNow — Spark falls back to single-batch
    execution, which (with no maxOffsetsPerTrigger) drains the whole
    replay in batch 0, giving the bounded-read parity the reference's
    interactive scan has (kafquack_extension.cpp:145-157).  Since round 6
    that batch is served by the partition-parallel
    ``KafquackStreamReader``: offsets planned driver-side from footer
    metadata, rows read executor-side across >1 task."""
    from ..session import ensure_session_conf
    from ..sources.datasource import read_kafquack

    ensure_session_conf(spark)
    stream = read_kafquack(
        spark, "localhost:9092", "events", "graft-group",
        stream=True, fixture_dir=sf_dir,
    )
    agg = stream.groupBy("partition").agg(
        F.count(F.lit(1)).alias("messages"),
        F.max("offset").alias("max_offset"),
        F.count(F.when(F.col("error").isNotNull(), 1)).alias("error_rows"),
    )
    run_stream_to_table(agg, "kafka_datasource_stream", "complete")
    return spark.table("kafka_datasource_stream")


@query(
    "streaming_kafka_windowed",
    """
SELECT time_bucket(INTERVAL '1 day', ts) AS day_start,
       CAST(user_id % 4 AS INTEGER) AS "partition",
       CAST(COUNT(*) AS BIGINT) AS messages
FROM events
WHERE event_id % 97 <> 0
GROUP BY 1, 2
""",
)
def streaming_kafka_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time machinery COMPOSED with the kafquack stream source:
    the source's ``timestamp`` column (µs-floored; ~1% null per the
    errors-as-data projection) drives a watermarked 1-day tumbling
    window per Kafka partition — the shape of every production
    "messages per topic-partition per day" dashboard.  Null timestamps
    are dropped explicitly (an event-time aggregate cannot place them);
    the oracle mirrors that with ``event_id % 97 <> 0``."""
    from ..session import ensure_session_conf
    from ..sources.datasource import read_kafquack

    ensure_session_conf(spark)
    stream = read_kafquack(
        spark, "localhost:9092", "events", "graft-group",
        stream=True, fixture_dir=sf_dir,
    )
    agg = (
        stream.filter(F.col("timestamp").isNotNull())
        .withWatermark("timestamp", "1 day")
        .groupBy(F.window("timestamp", "1 day").alias("w"), "partition")
        .agg(F.count(F.lit(1)).alias("messages"))
        .select(F.col("w.start").alias("day_start"), "partition", "messages")
    )
    run_stream_to_table(agg, "kafka_windowed_stream", "complete")
    return spark.table("kafka_windowed_stream")


@query(
    "streaming_kafka_paced",
    """
SELECT CAST(user_id % 4 AS INTEGER) AS "partition",
       CAST(COUNT(*) AS BIGINT) AS messages,
       CAST(MIN(event_id) AS BIGINT) AS min_offset,
       CAST(MAX(event_id) AS BIGINT) AS max_offset,
       CAST(COUNT(*) FILTER (WHERE event_id % 10 = 0) AS BIGINT) AS keyless
FROM events
GROUP BY 1
""",
)
def streaming_kafka_paced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RATE-LIMITED multi-micro-batch replay through the
    partition-parallel ``KafquackStreamReader``: max_offsets_per_trigger
    forces ≥4 micro-batches (each planned driver-side from footer
    metadata and fanned out to executor tasks), a processingTime trigger
    runs them for real, and the complete-mode aggregate must equal the
    batch oracle once the stream catches up — proving offset pacing,
    monotone progression, and per-batch partition planning end-to-end,
    which the availableNow single-batch fallback cannot."""
    from ..session import ensure_session_conf
    from ..sources.datasource import fixture_total_rows, read_kafquack

    ensure_session_conf(spark)
    # pacing constant and catch-up target from footer METADATA (the same
    # source the stream reader plans offsets from) — no full-scan count()
    # job before the stream starts.  start_offset=0 anchors the reader's
    # pacing high-water mark for this fresh-checkpoint run, so batch 0 is
    # genuinely rate-limited (without it the engine's latestOffset-first
    # call order serves one full catch-up batch — see KafquackStreamReader).
    total = fixture_total_rows(sf_dir)
    stream = read_kafquack(
        spark, "localhost:9092", "events", "graft-group",
        stream=True, fixture_dir=sf_dir,
        max_offsets_per_trigger=max(1, total // 4),
        start_offset=0,
    )
    agg = stream.groupBy("partition").agg(
        F.count(F.lit(1)).alias("messages"),
        F.min("offset").alias("min_offset"),
        F.max("offset").alias("max_offset"),
        F.count(F.when(F.col("key").isNull(), 1)).alias("keyless"),
    )

    def caught_up(s: SparkSession) -> bool:
        try:
            row = s.table("kafka_paced_stream").agg(
                F.sum("messages").alias("n")
            ).collect()
            return bool(row) and row[0]["n"] == total
        except Exception:  # sink table not materialized yet
            return False

    run_paced_stream_to_table(agg, "kafka_paced_stream", caught_up)
    return spark.table("kafka_paced_stream")


def _docs_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents table as a file stream (the nightly-crawl arrival)."""
    from ..session import ensure_session_conf

    ensure_session_conf(spark)
    static = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (
        spark.readStream.schema(static.schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )


def _duck_streaming_incr_sql() -> str:
    from ..functions.hashing import duck_hash64, duck_seeded_md5
    from ..operators.dedup import (
        _DUCK_SHINGLE_CTE,
        BANDS,
        JACCARD_THRESHOLD,
        NUM_HASHES,
        ROWS_PER_BAND,
    )

    mh_cols = ",\n         ".join(
        f"min({duck_seeded_md5('tok', s)}) AS mh{s}" for s in range(NUM_HASHES)
    )
    band_sigs = ",\n       ".join(
        "md5(" + " || ".join(f"mh{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)) + f") AS sig{b}"
        for b in range(BANDS)
    )
    band_union = "\nUNION ALL\n".join(
        f"SELECT doc_id, {b} AS band, sig{b} AS band_sig FROM sigs" for b in range(BANDS)
    )
    return f"""
WITH tok AS (
{_DUCK_SHINGLE_CTE}
), tokh AS (
  SELECT DISTINCT doc_id, {duck_hash64('tok')} AS h FROM tok
), mh AS (
  SELECT doc_id,
         {mh_cols}
  FROM tok GROUP BY doc_id
), sigs AS (
  SELECT doc_id,
       {band_sigs}
  FROM mh
), bands AS (
{band_union}
), sizes AS (
  SELECT doc_id, COUNT(*) AS n FROM tokh GROUP BY doc_id
), cand AS (
  SELECT DISTINCT b.doc_id AS bd, c.doc_id AS cd
  FROM bands b JOIN bands c ON b.band = c.band AND b.band_sig = c.band_sig
  WHERE b.doc_id % 2 = 1 AND c.doc_id % 2 = 0
), inter AS (
  SELECT cand.bd, cand.cd, COUNT(*) AS icnt
  FROM cand
  JOIN tokh t1 ON t1.doc_id = cand.bd
  JOIN tokh t2 ON t2.doc_id = cand.cd AND t2.h = t1.h
  GROUP BY cand.bd, cand.cd
), near AS (
  SELECT DISTINCT i.bd AS doc_id
  FROM inter i
  JOIN sizes s1 ON s1.doc_id = i.bd
  JOIN sizes s2 ON s2.doc_id = i.cd
  WHERE icnt::DOUBLE / (s1.n + s2.n - icnt) >= {JACCARD_THRESHOLD}
), corpus_h AS (
  SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 2 = 0
), batch AS (
  SELECT doc_id, source, md5(text) AS h FROM documents WHERE doc_id % 2 = 1
), cls AS (
  SELECT b.source,
         CASE WHEN b.h IN (SELECT h FROM corpus_h) THEN 'exact_dup'
              WHEN b.doc_id IN (SELECT doc_id FROM near) THEN 'near_dup'
              ELSE 'unique' END AS cls
  FROM batch b
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_batch,
       CAST(COUNT(*) FILTER (WHERE cls = 'exact_dup') AS BIGINT) AS n_exact_dup,
       CAST(COUNT(*) FILTER (WHERE cls = 'near_dup') AS BIGINT) AS n_near_dup,
       CAST(COUNT(*) FILTER (WHERE cls = 'unique') AS BIGINT) AS n_unique
FROM cls GROUP BY source
"""


# The three streaming plan builders (stream side, inline corpus rels,
# semdedup arrivals) memoize their BUILT PLANS per (context, sf_dir) —
# r14 (r13 verdict item 4): constructing the banded-signature projection
# over the readStream frame costs ~0.45 s of pure py4j/analysis per call
# (measured: _docs_stream 0.15 s + sig_sets 0.1–0.2 s + bands 0.12 s), a
# third of the stored twin's whole bench row, and the plan is a
# DETERMINISTIC function of the fixture dir — the `_pr_iterate` lesson
# (cut plan-construction cost, not a result cache: every start() of the
# memoized frame plans and executes its own fresh micro-batches).
# Sibling sessions of ONE context share an entry by design: the builder
# session is conf-ensured before the build, so execution through the
# memoized frame's own session is always pinned, and callers still get
# their session ensured via the `ensure_session_conf` call before the
# lookup.
def _incr_stream_side(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The arriving-batch side of incremental dedup as a STREAM:
    (doc_id, source, h, t1, n1, band, band_sig) — md5 content key,
    shingle set, set size, and exploded band keys, all map-only
    expressions on the incoming doc.  ONE definition of the
    seeded-MinHash + banding scheme repo-wide: rides the same
    minhash_sig_sets/minhash_bands the batch pipelines (and the oracle
    mirrors) use, with source/h/shingle set carried via passthrough.
    Banding knobs come from the SAME corpus-derived law as the store
    build (:func:`..operators.dedup.minhash_knobs_for`, r12 advice) —
    the arriving batch and the stored index can never band-mismatch.

    The built plan is memoized per (context, sf_dir): a streaming
    DataFrame is just a plan — each ``writeStream.start()`` runs its
    own query against it, so reuse skips only the py4j construction
    cost, never any execution."""
    from ..operators.dedup import minhash_bands, minhash_knobs_for, minhash_sig_sets
    from ..session import ensure_session_conf

    ensure_session_conf(spark)  # even on a memo hit: the CALLER's session

    def build():
        nh, nb, nr = minhash_knobs_for(spark, sf_dir)
        sdocs = (
            _docs_stream(spark, sf_dir)
            .filter(F.col("doc_id") % 2 == 1)
            .withColumn("h", F.md5("text"))
        )
        ssig = minhash_sig_sets(sdocs, nh, passthrough=("source", "h"))
        return minhash_bands(
            ssig.select(
                "doc_id", "source", "h",
                F.col("stoks").alias("t1"), F.col("n").alias("n1"),
                *[f"mh{i}" for i in range(nh)],
            ),
            nb,
            nr,
            passthrough=("source", "h", "t1", "n1"),
        )

    return derived.get_or_build("incr_stream_side", spark, sf_dir, build)


def _incr_classify(
    s: DataFrame, corpus_hash: DataFrame, cbands: DataFrame, csets: DataFrame
) -> DataFrame:
    """Per-doc (ex, nr) FLAG ROWS of the stream side against the corpus
    state: exact dups via the md5 key set, near-dups via the band join
    + inline exact-Jaccard verify.  A doc yields one row per band/key
    match; the per-doc MAX over flags is batch-local (every row of an
    arriving doc is in its own micro-batch), so the reduction happens
    INSIDE each micro-batch (:func:`_incr_batch_partials`) — no
    stateful operator.  The corpus-derived relations carry NO
    broadcast hint — all grow linearly with the corpus, so a forced
    hint is a guaranteed driver OOM at 100 TB (the batch twin
    ``dedup_incremental`` broadcasts the ARRIVING side, which is the
    bounded one).  Stream-static joins support shuffled exchanges, and
    AQE is disabled inside stateful streaming plans, so Catalyst's
    STATIC size estimate picks the strategy per micro-batch — and
    degrades safely to a shuffle at corpus scale.

    Join order matters for the per-ingest shuffle bill: bands and
    shingle sets join SEPARATELY (stream → bands on ``band_sig``, then
    candidates → sets on ``corpus_doc``), so when the stores are
    bucketed on exactly those keys (:func:`..operators.dedup.
    ensure_incremental_store`) only arriving rows ever move — the old
    shape pre-joined bands⋈sets per micro-batch, a corpus-scaled
    shuffle on every ingest.  The band join deliberately drops the
    ``band`` index from its keys: a cross-band ``band_sig`` collision
    (md5 of the band's minhash run) only adds a candidate row that the
    exact-Jaccard verify re-judges, and the per-doc MAX over flags is
    insensitive to extra verified rows — while the single-key equi-join
    is what lets the bucketed table's hash partitioning serve the join
    shuffle-free on the corpus side.

    Since round 12 the registered queries apply this classify to each
    MICRO-BATCH inside ``foreachBatch`` (:func:`_drain_incr_classified`)
    rather than composing it into the streaming plan: the joins then
    run as normal AQE-planned batch queries (runtime-sized strategy,
    coalesced shuffle partitions) — measured ~15% off the per-ingest
    classify at sf0.1 — while the streaming plan itself stays a
    map-only signature projection.  The same function applied to the
    streaming frame (:func:`_build_incremental_dedup_stream` /
    :func:`_build_incremental_dedup_stored_stream`) is what the
    plan-shape tests pin, so hint hygiene is asserted on exactly the
    plan each micro-batch executes."""
    from ..operators.dedup import JACCARD_THRESHOLD

    icnt = F.size(F.array_intersect("t1", "t2"))
    near_flag = F.when(
        F.col("corpus_doc").isNotNull()
        & ((icnt / (F.col("n1") + F.col("n2") - icnt)) >= JACCARD_THRESHOLD),
        1,
    ).otherwise(0)
    return (
        s.join(corpus_hash, "h", "left")
        .join(cbands, ["band_sig"], "left")
        .join(csets, ["corpus_doc"], "left")
        .select(
            "doc_id", "source",
            F.coalesce(F.col("_ex"), F.lit(0)).alias("ex_flag"),
            near_flag.alias("nr_flag"),
        )
    )


def _incr_corpus_rels_inline(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The corpus-side relations of the incremental-dedup classify
    (md5 key set, band signatures, shingle sets), recomputed from the
    corpus text INLINE — the from-scratch shape;
    :func:`_incr_corpus_rels_stored` reads the same state from the
    prebuilt store instead.  Banding knobs from the shared
    corpus-derived law (:func:`..operators.dedup.minhash_knobs_for`).

    Plans memoized per (context, sf_dir) like the stream side —
    construction cost only; every micro-batch still re-derives the
    corpus relations at EXECUTION time (the inline twin's defining
    cost, which the stored twin exists to amortize)."""
    from ..operators.dedup import minhash_bands, minhash_knobs_for, minhash_sig_sets
    from ..session import ensure_session_conf

    ensure_session_conf(spark)  # even on a memo hit: the CALLER's session

    def build():
        nh, nb, nr = minhash_knobs_for(spark, sf_dir)
        docs = load_tables(spark, sf_dir)["documents"]
        corpus = docs.filter(F.col("doc_id") % 2 == 0)
        corpus_hash = (
            corpus.select(F.md5("text").alias("h")).distinct().withColumn("_ex", F.lit(1))
        )
        csig = minhash_sig_sets(corpus, nh)
        cbands = minhash_bands(csig, nb, nr).select(
            F.col("doc_id").alias("corpus_doc"), "band_sig"
        )
        csets = csig.select(
            F.col("doc_id").alias("corpus_doc"),
            F.col("stoks").alias("t2"),
            F.col("n").alias("n2"),
        )
        return corpus_hash, cbands, csets

    return derived.get_or_build("incr_inline_rels", spark, sf_dir, build)


def _incr_corpus_rels_stored(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The STORED-INDEX corpus relations: the band_sig-bucketed
    signature table, doc_id-bucketed shingle-set table, and h-bucketed
    md5 key table (:func:`..operators.dedup.ensure_incremental_store`)
    are built at most once per context, and each micro-batch reads ONLY
    the stores: no corpus text re-read, no signature recompute, ever.
    This is the 100 TB nightly-ingest contract — re-shingling the
    corpus per ingest is the cost that kills naive incremental dedup —
    and because every store is bucketed on exactly its join key
    (:func:`_incr_classify` joins each store separately, single-key),
    the corpus side never shuffles per ingest: only arriving rows
    move.  Value-equal to the inline relations by construction (the
    stores persist exactly what the inline variant derives)."""
    from ..operators.dedup import ensure_incremental_store

    bands_table, sets_table, hash_table = ensure_incremental_store(spark, sf_dir)
    corpus_hash = spark.table(hash_table).withColumn("_ex", F.lit(1))
    cbands = spark.table(bands_table).select(
        F.col("doc_id").alias("corpus_doc"), "band_sig"
    )
    csets = spark.table(sets_table).select(
        F.col("doc_id").alias("corpus_doc"),
        F.col("stoks").alias("t2"),
        F.col("n").alias("n2"),
    )
    return corpus_hash, cbands, csets


def _build_incremental_dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`_incr_classify` composed over the streaming frame with the
    INLINE corpus relations — the exact per-micro-batch classify plan of
    :func:`streaming_incremental_dedup`, factored out so plan tests can
    assert broadcast-hint hygiene on the analyzed plan before any
    micro-batch runs (execution classifies each micro-batch inside
    ``foreachBatch``, where AQE is enabled — same plan, batch-planned)."""
    corpus_hash, cbands, csets = _incr_corpus_rels_inline(spark, sf_dir)
    return _incr_classify(
        _incr_stream_side(spark, sf_dir), corpus_hash, cbands, csets
    )


def _build_incremental_dedup_stored_stream(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The STORED-INDEX classify plan (:func:`_incr_corpus_rels_stored`)
    composed over the streaming frame — the plan-shape proxy for
    :func:`streaming_incremental_dedup_stored`, same unhinted-join
    policy as :func:`_build_incremental_dedup_stream`."""
    corpus_hash, cbands, csets = _incr_corpus_rels_stored(spark, sf_dir)
    return _incr_classify(
        _incr_stream_side(spark, sf_dir), corpus_hash, cbands, csets
    )


def _incr_batch_partials(batch_df: DataFrame) -> DataFrame:
    """Per-source verdict counts of ONE arriving micro-batch: per-doc
    MAX over the flag rows, then the four per-source counters.  Runs as
    a plain BATCH plan inside ``foreachBatch`` — classification is
    batch-local, so no stateful operator is needed and AQE stays
    enabled for the micro-batch's joins (Spark disables AQE only in
    stateful streaming plans)."""
    per_doc = batch_df.groupBy("doc_id", "source").agg(
        F.max("ex_flag").alias("ex"), F.max("nr_flag").alias("nr")
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_batch"),
        F.count(F.when(F.col("ex") == 1, 1)).alias("n_exact_dup"),
        F.count(F.when((F.col("ex") == 0) & (F.col("nr") == 1), 1)).alias("n_near_dup"),
        F.count(F.when((F.col("ex") == 0) & (F.col("nr") == 0), 1)).alias("n_unique"),
    )


class _BatchPartialFolder:
    """O(sources) driver state for a ``foreachBatch`` partial drain,
    independent of how many micro-batches the stream runs (r11 verdict
    item 4 — the batch_id-keyed dict grew one entry per batch forever
    on a long-lived ingest).

    Cross-batch state is exactly: the running totals of every FOLDED
    batch, plus the latest batch_id's raw partial.  ``foreachBatch`` is
    at-least-once with a WAL commit per batch, so the only replay Spark
    can deliver is the newest, not-yet-committed batch_id — a repeat of
    the latest id OVERWRITES its partial (never double-counts), and a
    batch is folded into the totals only when a strictly larger id
    arrives (which, under the WAL contract, means the smaller id
    committed).  An id smaller than the latest is already folded and is
    dropped.  ``fold(totals_dict, row)`` merges one partial row into
    the per-source totals."""

    def __init__(self, fold) -> None:
        self._fold = fold
        self._done: dict[str, list] = {}
        self._latest: tuple[int, list] | None = None

    def add(self, batch_id: int, rows: list) -> None:
        if self._latest is not None:
            last_id, last_rows = self._latest
            if batch_id < last_id:
                return  # pre-latest replay: already folded, drop it
            if batch_id > last_id:
                for r in last_rows:
                    self._fold(self._done, r)
            # batch_id == last_id: at-least-once replay — overwrite
        self._latest = (batch_id, rows)

    def totals(self) -> dict[str, list]:
        if self._latest is not None:
            for r in self._latest[1]:
                self._fold(self._done, r)
            self._latest = None
        return self._done


def _fold_incr_partial(done: dict[str, list], r) -> None:
    t = done.setdefault(r["source"], [0, 0, 0, 0])
    t[0] += r["n_batch"]
    t[1] += r["n_exact_dup"]
    t[2] += r["n_near_dup"]
    t[3] += r["n_unique"]


def _drain_incr_classified(
    stream_side: DataFrame,
    name: str,
    corpus_hash: DataFrame,
    cbands: DataFrame,
    csets: DataFrame,
) -> DataFrame:
    """Drain the map-only signature stream and run the FULL classify
    (:func:`_incr_classify` + per-source partials) on each micro-batch
    inside ``foreachBatch`` — the classification joins then run as
    normal batch plans with AQE enabled (runtime join strategy,
    coalesced shuffles), instead of inside the AQE-less streaming plan.
    This is the documented Spark pattern for stream-static joins that
    want the batch optimizer; classification is batch-local (every row
    of an arriving doc is in its own micro-batch), so values are
    unchanged — the shared batch oracle proves it."""
    return _drain_incr_stream(
        stream_side,
        name,
        lambda batch_df: _incr_batch_partials(
            _incr_classify(batch_df, corpus_hash, cbands, csets)
        ),
    )


def _drain_incr_stream(stream_side: DataFrame, name: str, per_batch) -> DataFrame:
    """Shared foreachBatch drain: apply ``per_batch`` (a batch-plan
    builder) to each micro-batch, fold the per-source partials through
    :class:`_BatchPartialFolder`, and return the rollup as a VALUES
    LocalRelation."""
    folder = _BatchPartialFolder(_fold_incr_partial)

    def handle(batch_df, batch_id: int) -> None:
        folder.add(batch_id, per_batch(batch_df).collect())

    with tempfile.TemporaryDirectory(prefix=f"ckpt_{name}_") as ckpt:
        q = (
            stream_side.writeStream.foreachBatch(handle)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    totals = folder.totals()
    spark = stream_side.sparkSession
    if not totals:
        return spark.sql(
            "SELECT CAST(NULL AS STRING) AS source, CAST(NULL AS BIGINT) AS n_batch,"
            " CAST(NULL AS BIGINT) AS n_exact_dup, CAST(NULL AS BIGINT) AS n_near_dup,"
            " CAST(NULL AS BIGINT) AS n_unique WHERE 1 = 0"
        )
    vals = ", ".join(
        "('{}', {}, {}, {}, {})".format(s.replace("'", "''"), *t)
        for s, t in sorted(totals.items())
    )
    return spark.sql(
        "SELECT col1 AS source, CAST(col2 AS BIGINT) AS n_batch,"
        " CAST(col3 AS BIGINT) AS n_exact_dup, CAST(col4 AS BIGINT) AS n_near_dup,"
        f" CAST(col5 AS BIGINT) AS n_unique FROM VALUES {vals}"
    )


#: Corpus-size floor above which the INLINE incremental-dedup twin
#: routes to the stored-index path (r12 verdict item 5): re-deriving
#: the corpus index per ingest is linear in the corpus, so past this
#: size the inline shape pays more per micro-batch than the nightly
#: store build amortizes.  Safely above every oracle-checked SF
#: (≤60k docs) and the 64× probe (~320k), so no verified result can
#: change (the twins share one oracle anyway).
INLINE_DEDUP_MAX_CORPUS = 50_000_000


@query("streaming_incremental_dedup", _duck_streaming_incr_sql())
def streaming_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nightly-ingest dedup as a LIVE stream: the incoming batch (odd
    doc_ids) arrives via ``readStream``; each micro-batch classifies its
    docs against the STATIC corpus (even ids) — exact duplicates via a
    stream-static left join on the corpus md5 set, near-duplicates via a
    stream-static band join against the corpus's precomputed MinHash
    band signatures (the live twin of ``store_band_signatures``) with
    the exact-Jaccard verify inline.  Signatures on the stream side are
    map-only expressions; classification is batch-local, so the FULL
    classify and the per-doc / per-source reductions run INSIDE each
    micro-batch as an AQE-planned batch query
    (:func:`_drain_incr_classified`) and the stream carries no state at
    all — the corpus index joins UNHINTED (shuffled when big, broadcast
    when AQE measures it small; hint hygiene plan-pinned via
    :func:`_build_incremental_dedup_stream`), and driver memory holds
    only O(sources) counters.  No bucket cap on this join (the corpus
    side is the static index; the oracle mirrors the uncapped join
    exactly).

    Beyond :data:`INLINE_DEDUP_MAX_CORPUS` docs the query routes to the
    STORED twin (r12 verdict item 5): the probe's fixed-batch row shows
    the inline shape's growth is owed to re-deriving the corpus index
    per ingest — the cost the bucketed store exists to amortize — so
    inline is a small-corpus convenience only.  Every oracle-checked SF
    and the 64× probe sit below the floor, and the two twins share one
    oracle (value-equal by construction), so the routing can never
    change a verified result."""
    from ..operators.dedup import documents_rowcount

    if documents_rowcount(sf_dir) > INLINE_DEDUP_MAX_CORPUS:
        return streaming_incremental_dedup_stored(spark, sf_dir)
    corpus_hash, cbands, csets = _incr_corpus_rels_inline(spark, sf_dir)
    return _drain_incr_classified(
        _incr_stream_side(spark, sf_dir), "stream_incr_dedup",
        corpus_hash, cbands, csets,
    )


@query("streaming_incremental_dedup_stored", _duck_streaming_incr_sql())
def streaming_incremental_dedup_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nightly-ingest dedup against the PREBUILT corpus index — the
    steady-state production shape of :func:`streaming_incremental_dedup`
    (which recomputes the corpus index inline): the band_sig-bucketed
    signature table, shingle-set store, and md5 key store are built at
    most once per context (the scheduled nightly cost,
    :func:`..operators.dedup.ensure_incremental_store`), and each
    arriving micro-batch classifies against the STORES alone — no
    corpus text re-read, no signature recompute.  At 100 TB this is the
    difference between an ingest that costs O(batch) and one that
    re-shingles the corpus per run.  The classify runs per micro-batch
    inside ``foreachBatch`` (:func:`_drain_incr_classified`) so the
    store joins are AQE-planned batch queries.  Value-equal to the
    inline variant (the stores persist exactly the relations it
    derives), so the two queries share the DuckDB oracle — the hash
    match proves the store round-trip lossless."""
    corpus_hash, cbands, csets = _incr_corpus_rels_stored(spark, sf_dir)
    return _drain_incr_classified(
        _incr_stream_side(spark, sf_dir), "stream_incr_dedup_stored",
        corpus_hash, cbands, csets,
    )


# ---------------------------------------------------------------------------
# streaming fuzzy decontamination: the near-match benchmark gate at ingest
# ---------------------------------------------------------------------------

def _duck_streaming_fuzzy_sql() -> str:
    from ..operators.curation import _duck_fuzzy_contamination_sql

    return _duck_fuzzy_contamination_sql()


def _fuzzy_stream_side(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The arriving side of the fuzzy-decontamination gate: map-only
    signatures + band keys on the incoming doc, riding the SAME
    minhash_sig_sets/minhash_bands the batch oracle mirrors — one
    definition of seeding + banding repo-wide."""
    from ..operators.curation import FUZZY_BENCH_MOD
    from ..operators.dedup import NUM_HASHES, minhash_bands, minhash_sig_sets

    ssig = minhash_sig_sets(
        _docs_stream(spark, sf_dir).filter(F.col("doc_id") % FUZZY_BENCH_MOD != 0),
        passthrough=("source",),
    )
    return minhash_bands(
        ssig.select(
            "doc_id", "source",
            F.col("stoks").alias("t1"), F.col("n").alias("n1"),
            *[f"mh{i}" for i in range(NUM_HASHES)],
        ),
        passthrough=("source", "t1", "n1"),
    )


def _fuzzy_bench_rels(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """The benchmark-index store relations (bands bucketed on band_sig,
    shingle sets bucketed on bench_id), built at most once per context
    (:func:`..operators.curation.ensure_fuzzy_bench_store`)."""
    from ..operators.curation import ensure_fuzzy_bench_store

    bands_table, sets_table = ensure_fuzzy_bench_store(spark, sf_dir)
    return spark.table(bands_table), spark.table(sets_table)


def _fuzzy_flagged(
    frame: DataFrame, bbands: DataFrame, bsets: DataFrame
) -> DataFrame:
    """The fuzzy classify plan over one micro-batch (or, for plan
    tests, the streaming frame itself): probe the bucketed benchmark
    band store on ``band_sig`` alone (a cross-band md5 collision only
    adds a candidate the exact-Jaccard verify re-judges, and the pair
    dedup collapses duplicate band matches — the :func:`_incr_classify`
    argument; the single key is what lets the bucketed table serve the
    join), join the shingle-set store on ``bench_id``, verify exact
    Jaccard inline.  Both store joins are UNHINTED — AQE broadcasts the
    fixed-size benchmark when actually small and degrades to a shuffle
    when a probe-style replication grows it."""
    from ..operators.curation import FUZZY_CONTAM_THRESHOLD

    icnt = F.size(F.array_intersect("t1", "t2"))
    return (
        frame.join(bbands, ["band_sig"])
        .join(bsets, ["bench_id"])
        .select(
            "doc_id", "source", "bench_id",
            (icnt / (F.col("n1") + F.col("n2") - icnt)).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= FUZZY_CONTAM_THRESHOLD)
    )


def _build_fuzzy_contamination_classify(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """:func:`_fuzzy_flagged` composed over the streaming frame — the
    plan-shape proxy for :func:`streaming_fuzzy_contamination` (hint
    hygiene + store scans are asserted on exactly the plan each
    micro-batch executes)."""
    bbands, bsets = _fuzzy_bench_rels(spark, sf_dir)
    return _fuzzy_flagged(_fuzzy_stream_side(spark, sf_dir), bbands, bsets)


@query("streaming_fuzzy_contamination", _duck_streaming_fuzzy_sql())
def streaming_fuzzy_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy train/test decontamination at INGEST: the nightly crawl
    streams through the banded MinHash benchmark probe, so a paraphrased
    benchmark item is caught the moment it arrives instead of at the
    next batch sweep — the near-match complement to the exact n-gram
    gate, value-equal to the batch
    :func:`..operators.curation.fuzzy_contamination` oracle.

    The in-stream gate is completely STATELESS — strictly tighter than
    a per-doc flag aggregate: signatures and band keys are map-only
    expressions on the incoming doc, and the whole classify runs per
    micro-batch inside ``foreachBatch`` as an AQE-planned batch query
    (the round-12 incremental-dedup pattern), so the stream carries
    zero state.

    Benchmark side (r12, r11 verdict item 6): the benchmark index
    (band signatures bucketed on ``band_sig``, shingle sets bucketed on
    ``bench_id`` — :func:`..operators.curation.ensure_fuzzy_bench_store`)
    is built at most once per context, and each micro-batch probes the
    STORES — no benchmark re-shingling, no per-batch re-plan of the
    derivation; the probe join is keyed on ``band_sig`` alone so the
    bucketed table serves it (a cross-band md5-signature collision only
    adds a candidate the exact-Jaccard verify re-judges, and the pair
    dedup collapses duplicate band matches — the
    :func:`_incr_classify` argument).  The store joins are UNHINTED:
    the benchmark is fixed-size by design, so AQE broadcasts it when
    actually small, and the 64× probe (where the 'benchmark' slice
    grows with replication) degrades to a shuffle instead of a forced
    corpus-scaled broadcast.

    Sink (r11): each micro-batch reduces its flagged matches to
    per-source partials INSIDE the batch (pair dedup → per-doc →
    per-source; all batch-local, since a doc's band matches live in
    its own micro-batch) and the driver accumulates only the
    O(sources) counter rows through the replay-safe
    :class:`_BatchPartialFolder`.  The old append-mode memory sink
    accumulated the RAW flagged-pair stream in driver memory
    (contamination-density-scaled), which the 16× scaling probe
    measured as this row's dominant cost.  The ``max()`` combines
    identical jaccard doubles across engines — nothing
    order-dependent."""
    s = _fuzzy_stream_side(spark, sf_dir)
    bbands, bsets = _fuzzy_bench_rels(spark, sf_dir)

    def fold(done: dict[str, list], r) -> None:
        t = done.setdefault(r["source"], [0, 0, float("-inf")])
        t[0] += r["contaminated_docs"]
        t[1] += r["n_pairs"]
        t[2] = max(t[2], r["max_jaccard"])

    folder = _BatchPartialFolder(fold)

    def handle(batch_df, batch_id: int) -> None:
        flagged = _fuzzy_flagged(batch_df, bbands, bsets)
        pairs = flagged.groupBy("doc_id", "source", "bench_id").agg(
            F.max("jaccard").alias("jaccard")
        )
        per_doc = pairs.groupBy("doc_id", "source").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bench_matches"),
            F.max("jaccard").alias("max_jaccard"),
        )
        folder.add(
            batch_id,
            per_doc.groupBy("source")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("contaminated_docs"),
                F.sum("n_bench_matches").cast("bigint").alias("n_pairs"),
                F.max("max_jaccard").alias("max_jaccard"),
            )
            .collect(),
        )

    with tempfile.TemporaryDirectory(prefix="ckpt_fuzzy_contam_") as ckpt:
        q = (
            s.writeStream.foreachBatch(handle)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    totals = folder.totals()
    if not totals:
        return spark.sql(
            "SELECT CAST(NULL AS STRING) AS source,"
            " CAST(NULL AS BIGINT) AS contaminated_docs,"
            " CAST(NULL AS BIGINT) AS n_pairs,"
            " CAST(NULL AS DOUBLE) AS max_jaccard WHERE 1 = 0"
        )
    vals = ", ".join(
        "('{}', {}, {}, {!r})".format(s.replace("'", "''"), t[0], t[1], t[2])
        for s, t in sorted(totals.items())
    )
    return spark.sql(
        "SELECT col1 AS source, CAST(col2 AS BIGINT) AS contaminated_docs,"
        " CAST(col3 AS BIGINT) AS n_pairs,"
        f" CAST(col4 AS DOUBLE) AS max_jaccard FROM VALUES {vals}"
    )


# ---------------------------------------------------------------------------
# streaming semantic dedup: arriving embeddings vs the corpus, cell-scoped
# ---------------------------------------------------------------------------

def _emb_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embeddings table as a file stream (vector-side ingest)."""
    from ..session import ensure_session_conf

    ensure_session_conf(spark)
    static = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return (
        spark.readStream.schema(static.schema)
        .option("pathGlobFilter", "embeddings.parquet")
        .parquet(sf_dir)
    )


def _duck_streaming_semdedup_sql() -> str:
    from ..operators.similarity import _duck_semdedup_incr_sql

    return _duck_semdedup_incr_sql()


def _build_semdedup_arrivals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The arriving-vector stream for the SemDeDup ingest twin: a
    map-only readStream projection — NO joins, NO hints, no state; the
    classify happens per micro-batch inside foreachBatch (the fused
    kernel, or the collect-free cell join beyond the batch cap).  Split
    out so plan tests can pin the stream frame's shape without draining
    anything.  Plan memoized per (context, sf_dir) like
    :func:`_incr_stream_side` (~0.16 s of py4j/analysis per build,
    measured r14) — construction cost only, every start() executes
    fresh."""
    from ..operators.similarity import SEMDEDUP_BATCH_MOD
    from ..session import ensure_session_conf

    ensure_session_conf(spark)  # even on a memo hit: the CALLER's session
    return derived.get_or_build(
        "semdedup_arrivals",
        spark,
        sf_dir,
        lambda: _emb_stream(spark, sf_dir)
        .filter(F.col("vec_id") % SEMDEDUP_BATCH_MOD == 0)
        .select("vec_id", "embedding"),
    )


@query("streaming_semdedup_incremental", _duck_streaming_semdedup_sql())
def streaming_semdedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`..operators.similarity.semdedup_incremental` at INGEST:
    the stream is a map-only projection of arriving vectors; each
    micro-batch classifies them against the static corpus with the
    SAME fused BLAS kernel as the batch query
    (:func:`..operators.similarity._semdedup_kernel_flags`) — the
    ingest-bounded micro-batch is collected (the `cosine_topk`
    query-batch contract, `_bounded_collect`), cell-assigned from the
    memoized trained state, and closed over by ONE `mapInPandas` over
    the corpus scan.  Round 11 replaced the previous stream-static
    cell join with its unrolled-JVM-dot gate — same pair volume, but
    the scaling probe measured the JVM dot ~4-10× slower than the
    BLAS screen + fold re-score.  A micro-batch beyond
    :data:`MAX_QUERY_BATCH` degrades to the collect-free cell join
    (:func:`.._semdedup_joined_flags`), batch-planned with AQE — the
    ingest never raises.  The codebook trains batch-side once before
    the stream starts — exactly the production order (nightly index
    build, then ingest).

    Sink (r11): each micro-batch rolls its flagged pairs up to
    per-arrival verdicts (batch-local — an arriving vector's pairs all
    live in its own batch) and writes them to a per-batch parquet
    subdir via foreachBatch — mode=overwrite keyed by batch_id, so an
    at-least-once replay rewrites, never duplicates.  The old
    append-mode memory sink accumulated the RAW pair stream in driver
    memory (dup-density-scaled); this sink is fully distributed and
    the driver holds nothing.  Shares the batch oracle: the hash match
    proves micro-batching + the sink round-trip changed nothing."""
    import os

    import numpy as np

    from ..operators.similarity import (
        DIM,
        NEAR_DUP_COSINE,
        SEMDEDUP_BATCH_MOD,
        _bounded_collect,
        _embeddings_rowcount,
        _semdedup_joined_flags,
        _semdedup_kernel_flags,
        _semdedup_rollup,
        _trained_cell_assigner,
        semdedup_knobs,
    )

    emb = load_tables(spark, sf_dir)["embeddings"]
    n_centroids, _n_blocks = semdedup_knobs(_embeddings_rowcount(sf_dir))
    assign, _n_cells, state = _trained_cell_assigner(
        emb, cache_key=sf_dir, n_centroids=n_centroids
    )
    corpus = emb.filter(F.col("vec_id") % SEMDEDUP_BATCH_MOD != 0)
    arrivals = _build_semdedup_arrivals(spark, sf_dir)
    # sink lives under the warehouse keyed by sf_dir (r11 advice): a
    # rerun overwrites the same location instead of leaking one mkdtemp
    # directory per invocation for the life of the machine (the returned
    # DataFrame reads the sink lazily, so it can never be deleted
    # in-function).  Cleared up front so a previous run's extra
    # batch= subdirs can't leak into this run's read.
    import shutil

    from ..operators.dedup import _incr_store_tag

    warehouse = spark.conf.get(
        "spark.sql.warehouse.dir", "spark-warehouse"
    ).removeprefix("file:")
    out = os.path.join(
        warehouse, "kafquack_semdedup_incr_sink_" + _incr_store_tag(sf_dir)
    )
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)

    def handle(batch_df, batch_id: int) -> None:
        try:
            rows = _bounded_collect(
                batch_df.select("vec_id", "embedding"),
                "semdedup streaming ingest batch",
            )
            b_ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
            b_mat = (
                np.array([r["embedding"] for r in rows], dtype=np.float64)
                if rows
                else np.zeros((0, DIM))
            )
            flagged = _semdedup_kernel_flags(
                corpus, state, b_ids, b_mat, NEAR_DUP_COSINE
            )
        except ValueError:
            flagged = _semdedup_joined_flags(
                batch_df, corpus, assign, NEAR_DUP_COSINE
            )
        _semdedup_rollup(flagged).write.mode("overwrite").parquet(
            os.path.join(out, f"batch={batch_id}")
        )

    with tempfile.TemporaryDirectory(prefix="ckpt_semdedup_incr_") as ckpt:
        q = (
            arrivals.writeStream.foreachBatch(handle)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    if not any(e.startswith("batch=") for e in os.listdir(out)):
        return spark.sql(
            "SELECT CAST(NULL AS BIGINT) AS cell, CAST(NULL AS BIGINT) AS vec_id,"
            " CAST(NULL AS BIGINT) AS kept_id, CAST(NULL AS BIGINT) AS n_dups"
            " WHERE 1 = 0"
        )
    return spark.read.parquet(out).select("cell", "vec_id", "kept_id", "n_dups")


# ---------------------------------------------------------------------------
# streaming Bloom gate: constant-state seen-before filtering on ingest
# ---------------------------------------------------------------------------

def _duck_bloom_gate_sql() -> str:
    from ..functions.hashing import duck_hash64
    from ..operators.sketch import BLOOM_K, BLOOM_M, BLOOM_SEED

    bit_rows = "\nUNION ALL\n".join(
        f"SELECT h, CAST({duck_hash64('h', BLOOM_SEED + i)} % {BLOOM_M} AS INTEGER) AS bit FROM corpus_keys"
        for i in range(BLOOM_K)
    )
    probe_rows = "\nUNION ALL\n".join(
        f"SELECT doc_id, CAST({duck_hash64('h', BLOOM_SEED + i)} % {BLOOM_M} AS INTEGER) AS bit FROM batch_keys"
        for i in range(BLOOM_K)
    )
    return f"""
WITH corpus_keys AS (
  SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 2 = 0
), batch_keys AS (
  SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 2 = 1
), filter_bits AS (
  SELECT DISTINCT bit FROM ({bit_rows}) b
), probed AS (
  SELECT p.doc_id, COUNT(*) FILTER (WHERE f.bit IS NOT NULL) AS bits_set
  FROM ({probe_rows}) p LEFT JOIN filter_bits f USING (bit)
  GROUP BY p.doc_id
)
SELECT b.doc_id,
       (pr.bits_set = {BLOOM_K}) AS bloom_positive,
       (c.h IS NOT NULL) AS is_actual_dup
FROM batch_keys b
JOIN probed pr USING (doc_id)
LEFT JOIN corpus_keys c USING (h)
"""


def _build_bloom_gate_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming verdict plan for :func:`streaming_bloom_gate`,
    factored out so plan tests can pin the broadcast-hint budget on the
    analyzed plan: exactly ONE forced broadcast — ``filter_bits``, the
    ≤ m-row Bloom bitmap whose size is a design constant no matter how
    large the corpus.  The ``is_actual_dup`` ground-truth audit column
    joins the full corpus key set UNHINTED: that relation grows with the
    corpus (a forced broadcast would defeat the filter's whole reason to
    exist), so Catalyst's stats-based planner picks shuffled vs
    broadcast per micro-batch (AQE is disabled inside stateful streaming
    plans — the static size estimate is what guards the driver here);
    in production the audit column is dropped entirely and only the
    constant-size gate remains."""
    from ..operators.sketch import BLOOM_K, bloom_bits, bloom_build

    docs = load_tables(spark, sf_dir)["documents"]
    corpus_keys = (
        docs.filter(F.col("doc_id") % 2 == 0).select(F.md5("text").alias("h")).distinct()
    )
    bits_arr = bloom_bits("h")
    filter_bits = bloom_build(corpus_keys, col="h")
    corpus_members = corpus_keys.withColumn("_m", F.lit(1))

    stream = (
        _docs_stream(spark, sf_dir)
        .filter(F.col("doc_id") % 2 == 1)
        .select("doc_id", F.md5("text").alias("h"))
    )
    probed = (
        stream.select("doc_id", "h", F.explode(bits_arr).alias("bit"))
        .join(F.broadcast(filter_bits.withColumn("_b", F.lit(1))), "bit", "left")
        .join(corpus_members, "h", "left")
        .groupBy("doc_id")
        .agg(
            F.sum(F.when(F.col("_b").isNotNull(), 1).otherwise(0)).alias("bits_set"),
            F.max(F.coalesce("_m", F.lit(0))).alias("_is_dup"),
        )
    )
    return probed.select(
        "doc_id",
        (F.col("bits_set") == BLOOM_K).alias("bloom_positive"),
        (F.col("_is_dup") == 1).alias("is_actual_dup"),
    )


@query("streaming_bloom_gate", _duck_bloom_gate_sql())
def streaming_bloom_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seen-before content gating on a LIVE ingest stream: the corpus's
    md5(text) keys are folded into an m-bit Bloom filter ONCE (a ≤ m-row
    static relation — constant state no matter how large the history),
    and each arriving doc's k bit probes are a stream-static broadcast
    join + one stateful per-doc count.  ``bloom_positive`` docs route to
    the expensive exact/near verify; negatives are guaranteed-new (the
    Bloom no-false-negative invariant, which the oracle enforces by
    comparing against ``is_actual_dup`` — an audit-only column whose
    corpus-sized join is deliberately UNHINTED, see
    :func:`_build_bloom_gate_stream`).  This is the production shape
    for "have we crawled this page before?" at 100 TB: the alternative —
    a stream-static join against the full history — re-reads the corpus
    per micro-batch, while the filter is a broadcast-sized bitmap
    rebuilt only on compaction."""
    verdicts = _build_bloom_gate_stream(spark, sf_dir)
    run_stream_to_table(verdicts, "stream_bloom_gate", "complete")
    return spark.table("stream_bloom_gate")


# ---------------------------------------------------------------------------
# streaming CMS: the frequency sketch as streaming state
# ---------------------------------------------------------------------------

def _duck_streaming_hh_sql() -> str:
    from ..operators.sketch import _duck_heavy_hitters_sql

    return _duck_heavy_hitters_sql()


@query("streaming_cms_heavy_hitters", _duck_streaming_hh_sql())
def streaming_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The count-min sketch BUILT AS STREAMING STATE: the token stream
    arrives via readStream, and the sketch is a streaming groupBy over
    (row, bucket) — d·w counters of bounded state no matter how long the
    stream runs (the point of sketching a stream at 100 TB: the exact
    per-token count table grows with the vocabulary, the CMS does not).
    Heavy hitters are then extracted from the materialized sketch with
    the CMS-prune → exact-verify pattern, value-equal to the fully-batch
    :func:`..operators.sketch.heavy_hitters` oracle — proving the
    incremental sketch converges to the batch sketch exactly."""
    from ..operators.sketch import (
        _token_stream,
        cms_build,
        heavy_hitters_from_sketch,
    )

    stream_toks = (
        _docs_stream(spark, sf_dir)
        .select(F.explode(F.filter(F.split("text", " "), lambda t: t != "")).alias("tok"))
    )
    sketch_stream = cms_build(stream_toks)
    run_stream_to_table(sketch_stream, "stream_cms_sketch", "complete")
    sketch = spark.table("stream_cms_sketch")

    docs = load_tables(spark, sf_dir)["documents"]
    return heavy_hitters_from_sketch(sketch, _token_stream(docs))


# ---------------------------------------------------------------------------
# streaming HyperLogLog: distinct-count registers as streaming state
# ---------------------------------------------------------------------------

def _duck_streaming_hll_sql() -> str:
    from ..operators.sketch import _duck_hll_sql

    return _duck_hll_sql()


@query("streaming_hll_distinct", _duck_streaming_hll_sql())
def streaming_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The HyperLogLog registers built INCREMENTALLY over a live stream:
    a streaming max-per-register groupBy holds ≤ 256 rows of state no
    matter how long the stream runs (register max is the streaming-
    friendly aggregate — monotone, merge = max), then the drained
    registers produce the estimate with the same integer-scaled
    harmonic sum as the batch sketch.  Value-equal to the fully-batch
    :func:`..operators.sketch.hll_distinct_query` oracle — the
    incremental sketch CONVERGES to the batch sketch exactly, which is
    the whole claim behind 'count distinct users over an unbounded
    stream in constant memory'."""
    from ..operators.dedup import _SPARK_SHINGLES
    from ..operators.sketch import _hll_estimate_from_regs, _hll_registers

    stream_keys = (
        _docs_stream(spark, sf_dir)
        .select(F.filter(F.split("text", " "), lambda t: t != "").alias("toks"))
        .select(F.explode(F.expr(_SPARK_SHINGLES)).alias("tok"))
    )
    regs_stream = _hll_registers(stream_keys)
    run_stream_to_table(regs_stream, "stream_hll_regs", "complete")
    regs = spark.table("stream_hll_regs")
    from ..operators.sketch import HLL_M

    return _hll_estimate_from_regs(regs).select(
        F.lit(HLL_M).alias("n_registers"),
        "n_present",
        "harmonic_s",
        "hll_estimate",
    )


# ---------------------------------------------------------------------------
# streaming quality gate: the ingest-time pre-filter as a live stream
# ---------------------------------------------------------------------------


def _duck_quality_gate_sql() -> str:
    from ..operators.pipeline import QUALITY_CUTOFF
    from ..operators.text import _DUCK_QUALITY

    return f"""
WITH q AS (
{_DUCK_QUALITY}
)
SELECT d.source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(*) FILTER (WHERE q.quality_score >= {QUALITY_CUTOFF}) AS BIGINT)
         AS n_accepted,
       CAST(COALESCE(SUM(d.n_chars) FILTER (WHERE q.quality_score >= {QUALITY_CUTOFF}), 0)
            AS BIGINT) AS accepted_chars
FROM q JOIN documents d ON d.doc_id = q.doc_id
GROUP BY d.source
"""


@query("streaming_quality_gate", _duck_quality_gate_sql())
def streaming_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quality pre-filter AT INGEST TIME: documents arrive as a
    live ``readStream``, each micro-batch scores its docs with the SAME
    column expression as the batch operator (map-only within the batch
    — scoring needs no state), and a streaming groupBy keeps ~sources
    rows of accept/reject accounting as the permanent gate dashboard.
    State is bounded by the source count regardless of stream length,
    and the drained table equals the fully-batch oracle — gating at
    ingest loses nothing vs re-scoring the corpus offline.

    The accept threshold compares :func:`..operators.text
    .quality_score_col`'s bit-identical single-division double, so a
    doc never flips keep/drop between the stream, the batch operator,
    and the oracle."""
    from ..operators.pipeline import QUALITY_CUTOFF
    from ..operators.text import quality_score_col

    accept = quality_score_col() >= QUALITY_CUTOFF
    gated = (
        _docs_stream(spark, sf_dir)
        .select("source", "n_chars", accept.alias("ok"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count(F.when(F.col("ok"), 1)).alias("n_accepted"),
            F.coalesce(
                F.sum(F.when(F.col("ok"), F.col("n_chars"))), F.lit(0)
            ).alias("accepted_chars"),
        )
    )
    run_stream_to_table(gated, "stream_quality_gate", "complete")
    return spark.table("stream_quality_gate")


# ---------------------------------------------------------------------------
# streaming engagement monitor: behavioral counts as live state
# ---------------------------------------------------------------------------


def _duck_streaming_engagement_sql() -> str:
    from ..operators.events import ENGAGE_W_CLICK, ENGAGE_W_PURCHASE

    return f"""
WITH ref AS (
  SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS doc_id, event_type
  FROM events
  WHERE event_type IN ('view', 'click', 'purchase')
), eng AS (
  SELECT doc_id,
         CAST(COUNT(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS n_views,
         CAST(COUNT(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS n_clicks,
         CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS n_purchases
  FROM ref GROUP BY doc_id
)
SELECT doc_id, n_views, n_clicks, n_purchases,
       n_views + {ENGAGE_W_CLICK} * n_clicks + {ENGAGE_W_PURCHASE} * n_purchases
         AS engagement_score
FROM eng
"""


@query("streaming_doc_engagement", _duck_streaming_engagement_sql())
def streaming_doc_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engagement counter as LIVE state: events arrive via
    ``readStream``, the JSON doc ref is parsed per micro-batch
    (map-only), and a streaming groupBy maintains one row per engaged
    document — so engagement-weighted sampling
    (:func:`..operators.events.engagement_weighted_sample`) can read
    CURRENT scores at any moment instead of re-scanning the event log.
    State is bounded by documents-ever-engaged (the corpus dimension,
    not the unbounded event count); counts are monotone integers, so
    the drained state equals the batch aggregate exactly."""
    from ..operators.events import (
        ENGAGE_W_CLICK,
        ENGAGE_W_PURCHASE,
        engagement_counts,
    )

    # the SAME shared reduce as the batch path — it is plain DataFrame
    # code, so it runs unchanged over the streaming relation
    eng = engagement_counts(_events_stream(spark, sf_dir))
    run_stream_to_table(eng, "stream_doc_engagement", "complete")
    return spark.table("stream_doc_engagement").select(
        "doc_id",
        "n_views",
        "n_clicks",
        "n_purchases",
        (
            F.col("n_views")
            + ENGAGE_W_CLICK * F.col("n_clicks")
            + ENGAGE_W_PURCHASE * F.col("n_purchases")
        ).alias("engagement_score"),
    )


# ---------------------------------------------------------------------------
# streaming PSI drift: length-distribution counts as live state
# ---------------------------------------------------------------------------


def _duck_streaming_psi_sql() -> str:
    from ..operators.text import _DUCK_PSI_SQL

    return _DUCK_PSI_SQL


@query("streaming_psi_drift", _duck_streaming_psi_sql())
def streaming_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI drift monitoring AT INGEST TIME: documents arrive as a live
    ``readStream``, each micro-batch bins lengths with the SAME
    fixed-integer-edge expression as the batch operator
    (:func:`..operators.text.psi_bin_col` — map-only, no state needed
    to bin), and a streaming groupBy maintains the (source, bin) count
    matrix as permanent state — bounded by |sources|·20 rows no matter
    how long the stream runs.  The PSI algebra then runs over the
    DRAINED counts via the shared :func:`..operators.text
    .psi_from_counts`, so the live dashboard is value-equal to the
    fully-batch oracle: monitoring drift at ingest loses nothing vs
    re-scanning the corpus offline (counts are monotone integers —
    the drained state equals the batch aggregate exactly)."""
    from ..operators.text import psi_bin_col, psi_from_counts

    binned = _docs_stream(spark, sf_dir).select("source", psi_bin_col().alias("bin"))
    counts = binned.groupBy("source", "bin").agg(F.count(F.lit(1)).alias("c"))
    run_stream_to_table(counts, "stream_psi_counts", "complete")
    return psi_from_counts(spark.table("stream_psi_counts"))
