"""Tests for the ``kafquack`` Spark Python Data Source
(sources/datasource.py) — the reference's SQL entry point
(``SELECT * FROM kafka_consumer(...)``, kafquack_extension.cpp:223-229)
as a live ``spark.read.format("kafquack")`` scan.

Covers the reference's negative binder test
(/root/reference/test/sql/kafquack.test:14-18 — wrong arity must fail at
bind), split planning math, batch/stream row parity with the oracle
harness, and restart replayability."""

import json
import os
import tempfile
import time

import pytest

from duckdb_extension_kafquack_spark.sources.datasource import (
    KafquackDataSource,
    _bind_options,
    _plan_replay_splits,
    read_kafquack,
    register_datasource,
)
from duckdb_extension_kafquack_spark.sources.synthetic import (
    kafka_messages_from_events,
)
from tests.conftest import SF_DIR

EVENTS = f"{SF_DIR}/events.parquet"


class TestBind:
    def test_missing_options_is_binder_error(self):
        """Reference: kafka_consumer('test') → 'No function matches the
        given name and argument types' (test/sql/kafquack.test:14-18)."""
        with pytest.raises(ValueError, match="No function matches"):
            _bind_options({"brokers": "b:9092"})

    def test_missing_all_options(self):
        with pytest.raises(ValueError, match="missing: brokers, topic, group_id"):
            _bind_options({})

    def test_arity_error_surfaces_through_spark_load(self, spark):
        register_datasource(spark)
        with pytest.raises(Exception, match="No function matches"):
            spark.read.format("kafquack").option("brokers", "b:9092").load()

    def test_named_param_whitelist_applies(self):
        """Same validation path as kafka_consumer (cpp:80-99)."""
        with pytest.raises(ValueError, match="Unknown named parameter: nope"):
            _bind_options(
                {"brokers": "b", "topic": "t", "group_id": "g", "nope": "1"}
            )
        with pytest.raises(
            ValueError, match="security_protocol must be either"
        ):
            _bind_options(
                {
                    "brokers": "b",
                    "topic": "t",
                    "group_id": "g",
                    "security_protocol": "PLAINTEXT",
                }
            )

    def test_valid_options_pass(self):
        out = _bind_options(
            {"brokers": "b", "topic": "t", "group_id": "g", "fixture_dir": SF_DIR}
        )
        assert out["fixture_dir"] == SF_DIR

    def test_name_is_kafquack(self):
        assert KafquackDataSource.name() == "kafquack"

    def test_no_fixture_no_broker_fails_at_bind(self, spark):
        """Without fixture replay, bind eagerly probes the broker
        (cpp:112-129 parity) and fails with the reference's text."""
        register_datasource(spark)
        with pytest.raises(Exception, match="Failed to create Kafka consumer"):
            spark.read.format("kafquack").options(
                brokers="127.0.0.1:1", topic="t", group_id="g"
            ).load().collect()


class TestSplitPlanning:
    def test_single_group_fixture_fans_out(self):
        splits = _plan_replay_splits(EVENTS, "events", 4)
        assert len(splits) == 4
        # contiguous, disjoint, covering
        assert splits[0].start == 0
        for a, b in zip(splits, splits[1:]):
            assert a.end == b.start
        total = sum(s.end - s.start for s in splits)
        assert total == splits[-1].end

    def test_min_splits_capped_by_rows(self):
        splits = _plan_replay_splits(EVENTS, "events", 10**9)
        total = sum(s.end - s.start for s in splits)
        assert total == splits[-1].end
        assert all(s.end > s.start for s in splits)

    def test_row_group_spans_cover_ranges(self):
        for s in _plan_replay_splits(EVENTS, "events", 8):
            assert s.rg_offset <= s.start
            assert s.rg_end >= s.rg_start + 1


class TestBatchRead:
    def test_matches_synthetic_harness_exactly(self, spark):
        """The v2 scan must emit the same rows as kafka_messages_batch —
        the oracle-checked projection."""
        ds = read_kafquack(
            spark, "localhost:9092", "events", "g", fixture_dir=SF_DIR
        )
        ref = kafka_messages_from_events(spark, SF_DIR)
        # declared source schema vs derived projection differ only in
        # nullability flags; names+types must match exactly
        assert [(f.name, f.dataType) for f in ds.schema] == [
            (f.name, f.dataType) for f in ref.schema
        ]
        assert ds.exceptAll(ref).count() == 0
        assert ref.exceptAll(ds).count() == 0

    def test_scan_is_partitioned(self, spark):
        ds = read_kafquack(
            spark, "localhost:9092", "events", "g", fixture_dir=SF_DIR
        )
        assert ds.rdd.getNumPartitions() == 4

    def test_num_partitions_option(self, spark):
        ds = read_kafquack(
            spark,
            "localhost:9092",
            "events",
            "g",
            fixture_dir=SF_DIR,
            num_partitions=8,
        )
        assert ds.rdd.getNumPartitions() == 8

    def test_composes_with_relational_ops(self, spark):
        ds = read_kafquack(
            spark, "localhost:9092", "events", "g", fixture_dir=SF_DIR
        )
        agg = (
            ds.where("error IS NULL")
            .groupBy("partition")
            .count()
            .orderBy("partition")
        )
        rows = agg.collect()
        assert len(rows) == 4
        assert sum(r["count"] for r in rows) == ds.where("error IS NULL").count()


class TestStreamRead:
    def _drain(self, spark, stream, name, timeout=240):
        q = (
            stream.writeStream.format("memory")
            .queryName(name)
            .trigger(processingTime="500 milliseconds")
            .option("checkpointLocation", tempfile.mkdtemp())
            .start()
        )
        try:
            expected = spark.read.parquet(EVENTS).count()
            deadline = time.time() + timeout
            while time.time() < deadline:
                if spark.table(name).count() >= expected:
                    break
                time.sleep(0.5)
        finally:
            q.stop()
        return spark.table(name)

    def test_stream_replay_matches_batch(self, spark):
        stream = read_kafquack(
            spark,
            "localhost:9092",
            "events",
            "g",
            stream=True,
            fixture_dir=SF_DIR,
            max_offsets_per_trigger=400,
        )
        assert stream.isStreaming
        got = self._drain(spark, stream, "kafquack_stream_t1")
        ref = kafka_messages_from_events(spark, SF_DIR)
        assert got.exceptAll(ref).count() == 0
        assert ref.exceptAll(got).count() == 0

    def test_simple_reader_drains_past_the_end(self, spark):
        """The simple_stream_reader=true opt-in through Spark.  The trigger
        after the topic's end reads an empty batch with end == start, which
        Spark's prefetch cache next()s; processAllAvailable waits for that
        trigger, so the stream must survive it and hold every offset
        exactly once."""
        stream = read_kafquack(
            spark,
            "localhost:9092",
            "events",
            "g",
            stream=True,
            fixture_dir=SF_DIR,
            max_offsets_per_trigger=400,
            simple_stream_reader="true",
        )
        q = (
            stream.writeStream.format("memory")
            .queryName("kafquack_simple_t1")
            .trigger(processingTime="100 milliseconds")
            .option("checkpointLocation", tempfile.mkdtemp())
            .start()
        )
        try:
            q.processAllAvailable()
            assert q.isActive and q.exception() is None
        finally:
            q.stop()
        got = spark.table("kafquack_simple_t1")
        ref = kafka_messages_from_events(spark, SF_DIR)
        assert got.count() == ref.count()
        assert got.exceptAll(ref).count() == 0
        assert ref.exceptAll(got).count() == 0

    def test_micro_batches_bounded_by_max_offsets(self, spark):
        from duckdb_extension_kafquack_spark.sources.datasource import (
            KafquackSimpleStreamReader,
        )

        r = KafquackSimpleStreamReader(
            {
                "fixture_dir": SF_DIR,
                "topic": "events",
                "max_offsets_per_trigger": "300",
            }
        )
        rows, end = r.read(r.initialOffset())
        rows = list(rows)
        assert len(rows) == 300
        assert end == {"index": 300}
        # deterministic re-read of the same batch (restart recovery)
        again = r.readBetweenOffsets({"index": 0}, {"index": 300})
        assert rows == again
        # offsets are served in order
        offsets = [row[2] for row in rows]
        assert offsets == sorted(offsets)

    def test_stream_offsets_progress_to_end(self):
        from duckdb_extension_kafquack_spark.sources.datasource import (
            KafquackSimpleStreamReader,
        )

        r = KafquackSimpleStreamReader(
            {"fixture_dir": SF_DIR, "topic": "events"}
        )
        rows, end = r.read(r.initialOffset())
        assert end["index"] == len(list(rows))
        rows2, end2 = r.read(end)
        assert list(rows2) == [] and end2 == end


class TestParallelStreamReader:
    """The full DataSourceStreamReader (round 6): micro-batches planned
    driver-side from footer metadata, read executor-side in >1 task."""

    def _reader(self, **opts):
        from duckdb_extension_kafquack_spark.sources.datasource import (
            KafquackStreamReader,
        )

        return KafquackStreamReader({"fixture_dir": SF_DIR, "topic": "events", **opts})

    def test_micro_batch_fans_out_to_multiple_partitions(self):
        """VERDICT r5 item 1's done-condition: >1 input partition per
        micro-batch, planned with the batch reader's split math."""
        r = self._reader()
        start, end = r.initialOffset(), r.latestOffset()
        parts = r.partitions(start, end)
        assert len(parts) > 1
        # disjoint, ordered, and complete over [start, end)
        bounds = [(p.start, p.end) for p in parts]
        assert bounds == sorted(bounds)
        assert bounds[0][0] == start["index"] and bounds[-1][1] == end["index"]
        assert all(a[1] == b[0] for a, b in zip(bounds, bounds[1:]))

    def test_partitioned_reads_cover_the_batch_exactly(self, spark):
        """Union of executor-side reads over the planned partitions ==
        the whole micro-batch projection: nothing lost, nothing doubled."""
        import pyarrow as pa

        from duckdb_extension_kafquack_spark.sources.datasource import (
            _read_replay_split,
        )

        r = self._reader(max_offsets_per_trigger="700")
        start, end = r.initialOffset(), r.latestOffset()
        parts = r.partitions(start, end)
        got = pa.Table.from_batches(
            [b for p in parts for b in _read_replay_split(p)]
        )
        assert len(got) == end["index"] - start["index"] == 700
        offsets = got["offset"].to_pylist()
        assert len(set(offsets)) == 700

    def test_rate_limit_and_monotone_offsets(self):
        r = self._reader(max_offsets_per_trigger="300")
        r.initialOffset()
        first = r.latestOffset()
        assert first == {"index": 300}
        second = r.latestOffset()
        assert second == {"index": 600}
        # commit never moves the position backwards
        r.commit({"index": 500})
        assert r.latestOffset() == {"index": 900}
        # restart with no recovered state: full catch-up, never backwards
        r2 = self._reader(max_offsets_per_trigger="300")
        total = r2._rg_index()[-1]
        assert r2.latestOffset() == {"index": total}

    def test_empty_range_plans_no_partitions(self):
        r = self._reader()
        assert r.partitions({"index": 10}, {"index": 10}) == []

    def test_fixture_total_rows_is_footer_metadata_only(self):
        """The harness pacing constant comes from the parquet footer (the
        same metadata offsets are planned from), not a full-scan count()
        job (VERDICT r6 item 4)."""
        import pyarrow.parquet as pq

        from duckdb_extension_kafquack_spark.sources.datasource import (
            fixture_total_rows,
        )

        expected = pq.ParquetFile(f"{SF_DIR}/events.parquet").metadata.num_rows
        assert fixture_total_rows(SF_DIR) == expected > 0

    def test_engine_call_order_latest_before_initial_stays_monotone(self):
        """Spark 4.1 resolves the first trigger's available END before
        fetching the batch START: latestOffset() lands on a fresh reader
        BEFORE initialOffset().  The position must never regress across
        that order — a reset in initialOffset would plan the next batch's
        end BEHIND batch 0's and the batch after it would re-read
        committed rows into state (round-7 flaky-duplicates root cause)."""
        r = self._reader(max_offsets_per_trigger="300")
        total = r._rg_index()[-1]
        # no recovered position: restart-safe full catch-up
        assert r.latestOffset() == {"index": total}
        # engine now asks for batch 0's start — must not clobber the hwm
        assert r.initialOffset() == {"index": 0}
        assert r.latestOffset()["index"] >= total

    def test_start_offset_anchors_pacing_under_engine_call_order(self):
        """start_offset=0 opts a fresh-checkpoint run into rate-limited
        batches from batch 0 even when latestOffset is called first."""
        r = self._reader(max_offsets_per_trigger="300", start_offset="0")
        assert r.latestOffset() == {"index": 300}
        assert r.initialOffset() == {"index": 0}
        assert r.latestOffset() == {"index": 600}

    def test_partitions_learns_committed_position(self):
        """On a clean restart the WAL batch reaches partitions() before
        any latestOffset call; the reader must resume FORWARD from the
        re-planned bounds, and a reversed range plans zero partitions
        instead of re-reading backwards."""
        r = self._reader(max_offsets_per_trigger="300")
        parts = r.partitions({"index": 200}, {"index": 400})
        assert parts and all(p.start >= 200 and p.end <= 400 for p in parts)
        assert r.latestOffset() == {"index": 700}
        assert r.partitions({"index": 700}, {"index": 400}) == []

    def test_checkpoint_restart_exactly_once(self, spark):
        """Kill a paced stream mid-replay, restart from the same
        checkpoint into the same FILE sink: the final output holds every
        offset exactly once — the reader's deterministic [start, end)
        replay composes with the file sink's commit log into end-to-end
        exactly-once (the guarantee the reference's at-most-once
        per-message commit cannot give, SURVEY §3.4).  (A memory sink
        can't test this: it does not support checkpoint recovery.)"""
        import tempfile
        import time

        ckpt = tempfile.mkdtemp()
        out = tempfile.mkdtemp() + "/out"
        total = spark.read.parquet(EVENTS).count()
        batch = 300

        def rows_out():
            try:
                return spark.read.parquet(out).count()
            except Exception:
                return 0

        def run(stop_after_rows):
            stream = read_kafquack(
                spark, "localhost:9092", "events", "g",
                stream=True, fixture_dir=SF_DIR,
                max_offsets_per_trigger=batch,
            )
            q = (
                stream.writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .trigger(processingTime="100 milliseconds")
                .start()
            )
            try:
                deadline = time.time() + 90
                while time.time() < deadline:
                    if rows_out() >= stop_after_rows:
                        break
                    time.sleep(0.2)
            finally:
                q.stop()

        run(3 * batch)
        n_first = rows_out()
        assert n_first >= 3 * batch
        run(total)
        got = sorted(r.offset for r in spark.read.parquet(out).collect())
        want = sorted(
            r.event_id for r in spark.read.parquet(EVENTS).select("event_id").collect()
        )
        assert got == want  # every offset exactly once, no dupes, no gaps

    # (original event_id, insert its copy after this file position):
    # three copies land after the stop with their originals before it, one
    # pair sits wholly before the stop, one wholly after, and one copy is
    # of an error row (filtered either way)
    STATEFUL_COPIES = [(12, 650), (45, 700), (150, 780), (130, 170), (520, 560), (303, 720)]

    @staticmethod
    def _write_redelivery_topic(out_dir, copies) -> list[int]:
        """An 800-message ``events.parquet`` (offset = event_id) with a
        redelivered copy of each ``(event_id, position)`` inserted after
        that file position; 100-row groups.  Returns the file order."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        order = list(range(800))
        for eid, at in sorted(copies, key=lambda c: c[1], reverse=True):
            order.insert(at + 1, eid)
        t0 = 1_704_067_200_000_000  # 2024-01-01, µs; a copy keeps its original's ts
        table = pa.table({
            "event_id": pa.array(order, pa.int64()),
            "ts": pa.array([t0 + e * 250_000 for e in order], pa.int64()).cast(pa.timestamp("us")),
            "user_id": pa.array([e % 13 for e in order], pa.int64()),
            "event_type": pa.array(["view"] * len(order)),
            "value": pa.array([1.0] * len(order)),
            "props": pa.array([f'{{"k": {e % 100}}}' for e in order]),
        })
        os.makedirs(out_dir, exist_ok=True)
        pq.write_table(table, os.path.join(out_dir, "events.parquet"), row_group_size=100)
        return order

    def _stateful_restart(self, spark, tmp_path, copies):
        """``topic_ingest``'s pipeline (watermark dedup, error filter,
        parquet sink), stopped once batch 1 commits and restarted from the
        same checkpoint, so the restart reloads the dedup state from the
        RocksDB changelogs.  Returns the sink's (offset, k) rows and the
        fixture's expected set, computed by DuckDB."""
        import duckdb
        from pyspark.sql import functions as F

        from duckdb_extension_kafquack_spark.streaming.state import (
            dedup_within_watermark,
        )

        topic = str(tmp_path / "topic")
        ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")
        order = self._write_redelivery_topic(topic, copies)

        def start(**paced):
            stream = read_kafquack(
                spark, "localhost:9092", "events", "g", stream=True,
                fixture_dir=topic, max_offsets_per_trigger=100, **paced,
            )
            pipeline = dedup_within_watermark(stream).filter(F.col("error").isNull()).select(
                "offset", F.from_json("value", "k INT").getField("k").alias("k"),
            )
            return (
                pipeline.writeStream.format("parquet")
                .option("checkpointLocation", ckpt)
                .trigger(processingTime="1 second")
                .start(out)
            )

        q = start(start_offset=0)
        try:
            deadline = time.time() + 90
            while not os.path.exists(os.path.join(ckpt, "commits", "1")):
                assert time.time() < deadline and q.isActive, "batch 1 never committed"
                time.sleep(0.02)
        finally:
            q.stop()
        # where the first run's committed offsets end; the copies placed
        # after it must meet their originals only through restored state
        last = max(int(f) for f in os.listdir(os.path.join(ckpt, "commits")) if f.isdigit())
        with open(os.path.join(ckpt, "offsets", str(last))) as fh:
            stop = json.loads(fh.read().splitlines()[-1])["index"]
        first_seen = {e: order.index(e) for e, _ in copies}
        copy_pos = {e: len(order) - 1 - order[::-1].index(e) for e, _ in copies}
        assert any(first_seen[e] < stop <= copy_pos[e] for e, _ in copies)

        q = start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = sorted((r.offset, r.k) for r in spark.read.parquet(out).collect())
        con = duckdb.connect()
        want = con.execute(
            "SELECT DISTINCT event_id, CAST(json_extract(props, '$.k') AS INTEGER) "
            f"FROM '{topic}/events.parquet' WHERE event_id % 101 <> 0 ORDER BY 1"
        ).fetchall()
        con.close()
        return got, [tuple(r) for r in want]

    def test_stateful_restart_exactly_once(self, spark, tmp_path):
        """Every non-error offset lands exactly once across a restart of
        the stateful ingest pipeline, and no redelivery survives."""
        got, want = self._stateful_restart(spark, tmp_path, self.STATEFUL_COPIES)
        assert got == want

    @pytest.mark.xfail(
        strict=True,
        reason="dedup_within_watermark keeps redeliveries of NULL-timestamp "
        "messages (streaming/state.py; ROADMAP direction 1)",
    )
    def test_stateful_restart_null_timestamp_redelivery(self, spark, tmp_path):
        """Offset 97 carries no broker timestamp (``event_id % 97``); its
        copy lands after the restart."""
        got, want = self._stateful_restart(
            spark, tmp_path, self.STATEFUL_COPIES + [(97, 690)]
        )
        assert got == want

    def test_simple_reader_optin_falls_back(self):
        """simple_stream_reader=true raises the API's NOT_IMPLEMENTED
        marker from streamReader, which is exactly what makes Spark's
        _streamReader dispatch use simpleStreamReader instead."""
        from pyspark.errors import PySparkNotImplementedError

        ds = KafquackDataSource(
            {
                "brokers": "b",
                "topic": "t",
                "group_id": "g",
                "fixture_dir": SF_DIR,
                "simple_stream_reader": "true",
            }
        )
        with pytest.raises(PySparkNotImplementedError):
            ds.streamReader(schema=None)
        assert ds.simpleStreamReader(schema=None) is not None


class TestSqlRoute:
    def test_create_view_using_kafquack(self, spark):
        """The reference's pure-SQL idiom, end-to-end: CREATE VIEW USING
        kafquack, then plain SELECTs plan the distributed scan."""
        from duckdb_extension_kafquack_spark.sources.datasource import (
            create_sql_view,
        )

        create_sql_view(
            spark, "kafquack_sql_view", "localhost:9092", "events", "g",
            fixture_dir=SF_DIR,
        )
        total = spark.sql("SELECT COUNT(*) AS n FROM kafquack_sql_view").collect()[0].n
        ref = kafka_messages_from_events(spark, SF_DIR)
        assert total == ref.count()
        by_part = spark.sql(
            "SELECT partition, COUNT(*) AS n FROM kafquack_sql_view "
            "GROUP BY partition ORDER BY partition"
        ).collect()
        assert len(by_part) == 4

    def test_view_name_validated(self, spark):
        from duckdb_extension_kafquack_spark.sources.datasource import (
            create_sql_view,
        )

        with pytest.raises(ValueError, match="invalid view name"):
            create_sql_view(spark, "bad-name; DROP", "b", "t", "g")

    def test_option_quotes_escaped(self, spark):
        """A group_id containing a single quote must not break out of the
        OPTIONS literal (it reaches bind validation, which accepts it)."""
        from duckdb_extension_kafquack_spark.sources.datasource import (
            create_sql_view,
        )

        create_sql_view(
            spark, "kafquack_quote_view", "localhost:9092", "events", "g'1",
            fixture_dir=SF_DIR,
        )
        assert spark.sql(
            "SELECT COUNT(*) AS n FROM kafquack_quote_view"
        ).collect()[0].n > 0
