"""The three workloads.  Each one runs inside the worker process, after
set-up, against the inputs the parent generated, and fills ``run.e2e``
(untraced runs) or ``run.layer`` (traced runs).

All three are closed loops with one client: the next operation starts
when the previous one has returned.  A *pass* is one round of the
workload's operations; the first pass runs in a fresh context (cold),
later passes are warm and repeat until ``--seconds`` have elapsed
(``corpus_curate`` runs one unmeasured warm-up pass in between).  In a
traced run the warm passes alternate untraced / traced, and the ratio of
their medians is the tracing overhead.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import time
from datetime import datetime

from spans import SparkProbe, median, tail

BROKERS, TOPIC, GROUP = "localhost:9092", "events", "perfbench"

# ---------------------------------------------------------------------------
# topic_scan
# ---------------------------------------------------------------------------

#: The bounded SQL set over ``<view> USING kafquack``: the reference's own
#: ``SELECT ... FROM kafka_consumer(...)`` idiom.  ``{q}`` quotes an
#: identifier for the engine running the text (Spark or DuckDB).
SCAN_SQL = {
    "full_projection": (
        "SELECT topic, {q}partition{q}, {q}offset{q}, {q}timestamp{q}, key, value, error "
        "FROM {src}"
    ),
    "by_partition": (
        "SELECT {q}partition{q}, COUNT(*) AS messages, MAX({q}offset{q}) AS max_offset, "
        "COUNT(error) AS error_rows FROM {src} GROUP BY {q}partition{q}"
    ),
    "by_value": "SELECT value, COUNT(*) AS cnt FROM {src} GROUP BY value",
    "invariant": (
        "SELECT COUNT(*) AS total, "
        "COUNT(CASE WHEN (value IS NULL) <> (error IS NOT NULL) THEN 1 END) AS violations, "
        "COUNT(error) AS error_rows, "
        "COUNT(CASE WHEN key IS NULL THEN 1 END) AS keyless_rows, "
        "COUNT(CASE WHEN {q}timestamp{q} IS NULL THEN 1 END) AS ts_null_rows FROM {src}"
    ),
}

#: Order-insensitive fingerprint of the full 7-column projection, per
#: partition; both engines compute the same md5-prefix integer per row.
_FINGERPRINT = {
    "spark": (
        "SELECT `partition`, COUNT(*) AS n, SUM(CAST(conv(substr(md5(concat_ws('|', topic, "
        "CAST(`partition` AS STRING), CAST(`offset` AS STRING), "
        "COALESCE(CAST(unix_micros(`timestamp`) AS STRING), 'N'), COALESCE(key, 'N'), "
        "COALESCE(value, 'N'), COALESCE(error, 'N'))), 1, 8), 16, 10) AS BIGINT)) AS h "
        "FROM topic GROUP BY `partition`"
    ),
    "duck": (
        'SELECT "partition", COUNT(*) AS n, CAST(SUM((\'0x\' || substr(md5(concat_ws(\'|\', '
        'topic, CAST("partition" AS VARCHAR), CAST("offset" AS VARCHAR), '
        "COALESCE(CAST(epoch_us(\"timestamp\") AS VARCHAR), 'N'), COALESCE(key, 'N'), "
        "COALESCE(value, 'N'), COALESCE(error, 'N'))), 1, 8))::BIGINT) AS BIGINT) AS h "
        'FROM ({src}) km GROUP BY "partition"'
    ),
}


def _pass_sum(records: list[dict], key: str) -> float:
    return sum(r.get(key, 0) for r in records)


def _layer_medians(passes: list[list[dict]], keys: list[str], prefix: str) -> dict:
    """Median over traced passes of each key's per-pass sum."""
    return {prefix + k: median(_pass_sum(p, k) for p in passes) for k in keys}


EXEC_KEYS = ["jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ms",
             "shuffle_write_b", "spill_b"]
CATALYST_KEYS = ["analysis_ms", "optimization_ms", "planning_ms"]


def datasource_kernel(run, topic_dir: str) -> dict:
    """Driver-side planning and the Arrow projection kernel, called
    in-process on one thread with no Spark around them: the
    single-threaded baseline of the source layer."""
    from duckdb_extension_kafquack_spark.sources.datasource import KafquackBatchReader

    reader = KafquackBatchReader(
        {"brokers": BROKERS, "topic": TOPIC, "group_id": GROUP,
         "fixture_dir": topic_dir, "num_partitions": str(run.cpus)}
    )
    plan_ms, rates = [], []
    for _ in range(3):
        with run.tracer.span("sources.datasource.partitions"):
            t0 = time.perf_counter()
            splits = reader.partitions()
            plan_ms.append((time.perf_counter() - t0) * 1000)
        with run.tracer.span("sources.datasource.read"):
            t0 = time.perf_counter()
            rows = sum(b.num_rows for s in splits for b in reader.read(s))
            rates.append(rows / (time.perf_counter() - t0))
    return {
        "sources.datasource.plan_ms": median(plan_ms),
        "sources.datasource.splits": len(splits),
        "sources.datasource.project_rows_per_s": median(rates),
    }


def topic_scan(run) -> None:
    import duckdb
    from duckdb_extension_kafquack_spark.sources.datasource import create_sql_view
    from duckdb_extension_kafquack_spark.suite import _KAFKA_ORACLE

    spark, topic_dir = run.spark, run.cfg["inputs"]["topic"]
    with run.tracer.span("sources.datasource.create_sql_view"):
        create_sql_view(spark, "topic", BROKERS, TOPIC, GROUP,
                        fixture_dir=topic_dir, num_partitions=run.cpus)
    total_rows = run.cfg["generated"]["rows"]
    names = list(SCAN_SQL)
    results: dict[str, object] = {}

    def op(name: str, traced: bool) -> dict:
        rec: dict = {"name": name}
        probe = run.probe if traced else None
        j0 = probe.next_job_id() if probe else 0
        with run.tracer.span("op", query=name):
            t0 = time.perf_counter()
            with run.tracer.span("build"):
                df = spark.sql(SCAN_SQL[name].format(q="`", src="topic"))
            with run.tracer.span("exec"):
                if name == "full_projection":
                    df.write.format("noop").mode("overwrite").save()
                else:
                    results[name] = df.toPandas()
            rec["s"] = time.perf_counter() - t0
        if probe:
            jobs = range(j0, probe.next_job_id())
            rec.update(probe.exec_metrics(jobs))
            if name == "full_projection":
                df._jdf.queryExecution().executedPlan()  # the noop write planned its own copy
                rec["leaf"] = probe.leaf_stage(jobs[0])
            rec.update(probe.planning_phases(df._jdf.queryExecution()))
        return rec

    def one_pass(traced: bool) -> list[dict]:
        with run.tracer.span("pass", traced=traced):
            return [r for r in (run.attempt(n, op, n, traced) for n in run.shuffled(names)) if r]

    cold = one_pass(run.trace)
    warm_untraced, warm_traced = run.warm_loop(one_pass, min_passes=3)
    run.check_results("topic_scan", _scan_checks(spark, topic_dir, results, duckdb, _KAFKA_ORACLE))

    if not run.trace:
        ops = [r for p in warm_untraced for r in p]
        lat = [r["s"] for r in ops]
        t, pct, n = tail(lat)
        run.set_e2e(
            cold_s=_pass_sum(cold, "s"),
            warm_s=sum(median(r["s"] for r in ops if r["name"] == q) for q in names),
            # every query of the set scans the whole topic
            rows_per_s=total_rows * len(lat) / sum(lat),
            op_p50_s=median(lat),
        )
        run.meta.update(tail_s=t, tail_percentile=pct, samples=n,
                        pass_s=[_pass_sum(p, "s") for p in warm_untraced])
        return
    leaves = [r["leaf"] for p in warm_traced for r in p if "leaf" in r]
    run.layer.update(_layer_medians(warm_traced, EXEC_KEYS, "spark.exec."))
    run.layer.update(_layer_medians(warm_traced, CATALYST_KEYS, "spark.catalyst."))
    run.layer.update({
        "sources.datasource.scan_tasks": median(x["tasks"] for x in leaves),
        "sources.datasource.scan_executor_run_ms": median(x["executor_run_ms"] for x in leaves),
        "sources.datasource.scan_executor_cpu_ms": median(x["executor_cpu_ms"] for x in leaves),
        "sources.datasource.task_skew": median(x["task_skew"] for x in leaves),
    })
    run.layer.update(datasource_kernel(run, topic_dir))
    run.set_overhead(warm_untraced, warm_traced)


def _scan_checks(spark, topic_dir, results, duckdb, oracle_sql) -> list[tuple[str, list[str]]]:
    from oracle_check import compare

    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{topic_dir}/events.parquet'")
    src = f"({oracle_sql}) km"
    out = []
    for name, got in results.items():
        want = con.execute(SCAN_SQL[name].format(q='"', src=src)).fetchdf()
        out.append((name, compare(name, got, want)))
    got = spark.sql(_FINGERPRINT["spark"]).toPandas()
    want = con.execute(_FINGERPRINT["duck"].format(src=oracle_sql)).fetchdf()
    out.append(("full_projection", compare("full_projection", got, want)))
    inv = results.get("invariant")
    if inv is not None and int(inv["violations"].iloc[0]) != 0:
        out.append(("invariant", ["(value IS NULL) = (error IS NOT NULL) violated"]))
    con.close()
    return out


# ---------------------------------------------------------------------------
# topic_ingest
# ---------------------------------------------------------------------------


def _progress_list(query) -> list[dict]:
    return [json.loads(p.json) for p in query.recentProgress]


def _end_index(progress: dict) -> int:
    end = progress["sources"][0].get("endOffset") or {}
    return int(end.get("index", -1)) if isinstance(end, dict) else -1


def _epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def _sink_files(sink: str) -> list[str]:
    """Files committed to a file sink, from its ``_spark_metadata`` log
    (files of an interrupted batch are not in it)."""
    files: set[str] = set()
    for log in glob.glob(os.path.join(sink, "_spark_metadata", "*")):
        with open(log) as fh:
            for line in fh.read().splitlines()[1:]:
                entry = json.loads(line)
                path = entry["path"].removeprefix("file://")
                if entry.get("action") == "delete":
                    files.discard(path)
                else:
                    files.add(path)
    return sorted(files)


def topic_ingest(run) -> None:
    from pyspark.sql import functions as F

    from duckdb_extension_kafquack_spark.sources.datasource import read_kafquack
    from duckdb_extension_kafquack_spark.streaming.state import dedup_within_watermark

    spark, topic_dir = run.spark, run.cfg["inputs"]["topic"]
    gen = run.cfg["generated"]
    total, batch = gen["rows"], run.cfg["sizes"]["max_offsets_per_trigger"]

    def drain(i: int, traced: bool) -> dict:
        ckpt, sink = os.path.join(run.dir, f"ckpt{i}"), os.path.join(run.dir, f"sink{i}")
        probe = run.probe if traced else None
        with run.tracer.span("drain", drain=i) as sp:
            wall0, t0 = time.time(), time.perf_counter()
            stream = read_kafquack(
                spark, BROKERS, TOPIC, GROUP, stream=True, fixture_dir=topic_dir,
                max_offsets_per_trigger=batch, start_offset=0, num_partitions=run.cpus,
            )
            out = dedup_within_watermark(stream).filter(F.col("error").isNull()).select(
                "partition", "offset", "timestamp",
                F.from_json("value", "k INT").getField("k").alias("k"),
            )
            q = out.writeStream.format("parquet").option("checkpointLocation", ckpt).start(sink)
            try:
                # one blocking call, so no polling competes with the triggers
                q.processAllAvailable()
                while q.status["isTriggerActive"] and time.perf_counter() - t0 < run.DRAIN_TIMEOUT_S:
                    time.sleep(0.02)  # let a trailing no-data trigger finish
                prog = _progress_list(q)
                if probe:
                    jobs = probe.group_jobs(q.runId)
                    phases = SparkProbe.planning_phases(q._jsq.streamingQuery().lastExecution())
            finally:
                q.stop()
        files = _sink_files(sink)
        data = [p for p in prog if p["numInputRows"] > 0]
        if not data or _end_index(data[-1]) != total:
            raise RuntimeError("drain stopped before the topic's end offset")
        first_start = _epoch(data[0]["timestamp"])
        last_commit = _epoch(data[-1]["timestamp"]) + data[-1]["durationMs"]["triggerExecution"] / 1000
        rec = {
            "ckpt": ckpt, "sink": sink, "progress": data,
            "rows": sum(p["numInputRows"] for p in data),
            "wall_s": last_commit - wall0,
            "active_s": last_commit - first_start,
            "sink_files": len(files),
            "sink_bytes": sum(os.path.getsize(f) for f in files),
        }
        if probe:
            rec["exec"] = probe.exec_metrics(jobs)
            rec["leaves"] = [probe.leaf_stage(j) for j in jobs]
            rec["phases"] = phases
            rec["analysis_ms"] = SparkProbe.planning_phases(out._jdf.queryExecution())["analysis_ms"]
            clock = time.perf_counter() - time.time()
            for p in data:
                s = _epoch(p["timestamp"]) + clock
                run.tracer.add("trigger", s, s + p["durationMs"]["triggerExecution"] / 1000,
                               sp["id"], batch=p["batchId"])
        return rec

    def one_pass(traced: bool) -> dict | None:
        """One drain, checked (outside its timing) and then deleted."""
        i = run.next_index()
        rec = run.attempt(f"drain{i}", drain, i, traced)
        if rec is not None:
            run.check_results("topic_ingest", [(f"drain{i}", _ingest_problems(topic_dir, rec["sink"]))])
            shutil.rmtree(rec["ckpt"], ignore_errors=True)
            shutil.rmtree(rec["sink"], ignore_errors=True)
        return rec

    cold = one_pass(run.trace)
    warm_untraced, warm_traced = run.warm_loop(one_pass, min_passes=1)
    warm_untraced = [r for r in warm_untraced if r]
    warm_traced = [r for r in warm_traced if r]

    if not run.trace:
        trig = [p["durationMs"]["triggerExecution"] / 1000 for r in warm_untraced for p in r["progress"]]
        t, pct, n = tail(trig)
        run.set_e2e(
            cold_s=cold["wall_s"] if cold else 0.0,
            warm_s=median(r["wall_s"] for r in warm_untraced),
            rows_per_s=median(r["rows"] / r["active_s"] for r in warm_untraced),
            op_p50_s=median(trig),
        )
        run.meta.update(tail_s=t, tail_percentile=pct, samples=n,
                        pass_s=[r["wall_s"] for r in warm_untraced])
        return

    prog = [p for r in warm_traced for p in r["progress"]]
    dur = lambda k: [p["durationMs"].get(k, 0) for p in prog]  # noqa: E731
    state = [p["stateOperators"][0] for p in prog]
    ratio = [
        sum(s["customMetrics"].get("numDroppedDuplicateRows", 0) for s in
            (p["stateOperators"][0] for p in r["progress"])) / max(1, gen["redelivered"])
        for r in warm_traced
    ]
    run.layer.update({
        "streaming.triggers": median(len(r["progress"]) for r in warm_traced),
        "streaming.rows_per_trigger": median(r["rows"] / len(r["progress"]) for r in warm_traced),
        # getBatch and latestOffset take under the progress's 1 ms
        # resolution, so their p50 reads 0: report the mean instead
        "streaming.get_batch_ms": statistics.fmean(dur("getBatch")),
        "streaming.query_planning_ms": median(dur("queryPlanning")),
        "streaming.add_batch_ms": median(dur("addBatch")),
        "streaming.wal_commit_ms": median(dur("walCommit")),
        "streaming.commit_offsets_ms": median(dur("commitOffsets")),
        "streaming.floor_ms": median(a - b for a, b in zip(dur("triggerExecution"), dur("addBatch"))),
        "streaming.state.rows_total": median(r["progress"][-1]["stateOperators"][0]["numRowsTotal"] for r in warm_traced),
        "streaming.state.memory_b": max(s["memoryUsedBytes"] for s in state),
        "streaming.state.commit_ms": median(s["commitTimeMs"] for s in state),
        "streaming.state.dup_drop_ratio": median(ratio),
        "streaming.sink.files": median(r["sink_files"] for r in warm_traced),
        "streaming.sink.bytes": median(r["sink_bytes"] for r in warm_traced),
        "sources.datasource.latest_offset_ms": statistics.fmean(dur("latestOffset")),
    })
    leaves = [x for r in warm_traced for x in r["leaves"]]
    run.layer.update({
        "sources.datasource.scan_tasks": median(sum(x["tasks"] for x in r["leaves"]) for r in warm_traced),
        "sources.datasource.scan_executor_run_ms": median(sum(x["executor_run_ms"] for x in r["leaves"]) for r in warm_traced),
        "sources.datasource.scan_executor_cpu_ms": median(sum(x["executor_cpu_ms"] for x in r["leaves"]) for r in warm_traced),
        "sources.datasource.task_skew": median(x["task_skew"] for x in leaves),
    })
    run.layer.update({"spark.exec." + k: median(r["exec"][k] for r in warm_traced) for k in EXEC_KEYS})
    run.layer.update({
        "spark.catalyst.analysis_ms": median(r["analysis_ms"] for r in warm_traced),
        "spark.catalyst.optimization_ms": median(r["phases"]["optimization_ms"] for r in warm_traced),
        "spark.catalyst.planning_ms": median(r["phases"]["planning_ms"] for r in warm_traced),
    })
    run.layer.update(datasource_kernel(run, topic_dir))
    run.set_overhead([[{"s": r["wall_s"]}] for r in warm_untraced],
                     [[{"s": r["wall_s"]}] for r in warm_traced])


def _ingest_problems(topic_dir: str, sink: str) -> list[str]:
    """Every non-error offset lands exactly once, no redelivery survives,
    and the decoded ``k`` equals DuckDB's JSON extraction."""
    import duckdb

    files = _sink_files(sink)
    if not files:
        return ["sink holds no committed files"]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW got AS SELECT * FROM read_parquet({files!r})")
    con.execute(
        "CREATE VIEW want AS SELECT DISTINCT event_id AS \"offset\", "
        "CAST(json_extract(props, '$.k') AS INTEGER) AS k "
        f"FROM '{topic_dir}/events.parquet' WHERE event_id % 101 <> 0"
    )
    n, distinct = con.execute('SELECT COUNT(*), COUNT(DISTINCT "offset") FROM got').fetchone()
    dups = [r[0] for r in con.execute(
        'SELECT "offset" FROM got GROUP BY 1 HAVING COUNT(*) > 1 ORDER BY 1 LIMIT 5').fetchall()]
    missing = con.execute('SELECT COUNT(*) FROM (SELECT * FROM want EXCEPT SELECT "offset", k FROM got)').fetchone()[0]
    extra = con.execute('SELECT COUNT(*) FROM (SELECT "offset", k FROM got EXCEPT SELECT * FROM want)').fetchone()[0]
    con.close()
    problems = []
    if n != distinct:
        problems.append(f"{n - distinct} redelivered rows survived dedup (offsets {dups})")
    if missing or extra:
        problems.append(f"{missing} expected (offset, k) rows missing, {extra} unexpected")
    return problems


# ---------------------------------------------------------------------------
# corpus_curate
# ---------------------------------------------------------------------------

#: The curation mix, by the module that registers each query.  Sized so a
#: run (cold pass, one warm pass, the DuckDB oracles) fits the run budget:
#: each connected-components oracle alone costs 5-8 s of DuckDB time.
CURATE_MIX = {
    "dedup": ["dedup_minhash_lsh", "dedup_cluster_histogram", "incremental_dedup_store_build"],
    "similarity": ["ivf_kmeans_codebook", "ann_int8_ivf_topk"],
    "text": ["text_quality", "boilerplate_phrases"],
    "curation": ["fuzzy_contamination"],
    "pipeline": ["corpus_curation"],
}
MODULE_OF = {q: m for m, qs in CURATE_MIX.items() for q in qs}
OPERATOR_KEYS = ["cold_build_s", "cold_build_jobs", "cold_exec_s", "cold_jobs",
                 "warm_build_s", "warm_exec_s", "warm_jobs", "executor_run_ms",
                 "shuffle_write_b", "spill_b", "cached_b"]


def corpus_curate(run) -> None:
    from duckdb_extension_kafquack_spark.suite import REGISTRY

    spark, corpus = run.spark, run.cfg["inputs"]["corpus"]
    names = list(MODULE_OF)
    results: dict[str, object] = {}

    def op(name: str, traced: bool) -> dict:
        probe = run.probe if traced else None
        rec: dict = {"name": name}
        if probe:
            j0, c0 = probe.next_job_id(), probe.cached_bytes()
        with run.tracer.span("op", query=name):
            with run.tracer.span("build"):
                t0 = time.perf_counter()
                df = REGISTRY[name].fn(spark, corpus)
                rec["build_s"] = time.perf_counter() - t0
            if probe:
                j1 = probe.next_job_id()
            with run.tracer.span("exec"):
                t1 = time.perf_counter()
                results[name] = df.toPandas()
                rec["exec_s"] = time.perf_counter() - t1
        rec["s"] = rec["build_s"] + rec["exec_s"]
        if probe:
            j2 = probe.next_job_id()
            rec.update(probe.exec_metrics(range(j0, j2)))
            rec.update(build_jobs=j1 - j0, exec_jobs=j2 - j1,
                       cached_b=probe.cached_bytes() - c0)
            rec.update(probe.planning_phases(df._jdf.queryExecution()))
        return rec

    def one_pass(traced: bool) -> list[dict]:
        with run.tracer.span("pass", traced=traced):
            return [r for r in (run.attempt(n, op, n, traced) for n in run.shuffled(names)) if r]

    cold = one_pass(run.trace)
    cold_results = dict(results)
    warm_untraced, warm_traced = run.warm_loop(one_pass, min_passes=1, warmup=1)
    run.check_results("corpus_curate", _curate_checks(corpus, [cold_results, results], REGISTRY))

    if not run.trace:
        ops = [r for p in warm_untraced for r in p]
        warm_s = sum(median(r["s"] for r in ops if r["name"] == q) for q in names)
        # the operation is one pass of the mix: the median of nine unlike
        # queries would jump between whichever two sit in the middle
        passes = [_pass_sum(p, "s") for p in warm_untraced]
        t, pct, n = tail(passes)
        docs = run.cfg["generated"]["docs"] + run.cfg["generated"]["vectors"]
        run.set_e2e(cold_s=_pass_sum(cold, "s"), warm_s=warm_s, rows_per_s=docs / warm_s,
                    op_p50_s=median(passes))
        run.meta.update(tail_s=t, tail_percentile=pct, samples=n, pass_s=passes)
        return

    def mod(records, m):
        return [r for r in records if MODULE_OF[r["name"]] == m]

    for m in CURATE_MIX:
        c = mod(cold, m)
        w = [mod(p, m) for p in warm_traced]
        pre = f"operators.{m}."
        run.layer.update({
            pre + "cold_build_s": _pass_sum(c, "build_s"),
            pre + "cold_build_jobs": _pass_sum(c, "build_jobs"),
            pre + "cold_exec_s": _pass_sum(c, "exec_s"),
            pre + "cold_jobs": _pass_sum(c, "jobs"),
            pre + "cached_b": _pass_sum(c, "cached_b"),
            pre + "warm_build_s": median(_pass_sum(x, "build_s") for x in w),
            pre + "warm_exec_s": median(_pass_sum(x, "exec_s") for x in w),
            pre + "warm_jobs": median(_pass_sum(x, "jobs") for x in w),
            pre + "executor_run_ms": median(_pass_sum(x, "executor_run_ms") for x in w),
            pre + "shuffle_write_b": median(_pass_sum(x, "shuffle_write_b") for x in w),
            pre + "spill_b": median(_pass_sum(x, "spill_b") for x in w),
        })
    run.layer.update(_layer_medians(warm_traced, EXEC_KEYS, "spark.exec."))
    run.layer.update(_layer_medians(warm_traced, CATALYST_KEYS, "spark.catalyst."))
    run.set_overhead(warm_untraced, warm_traced)


def _curate_checks(corpus: str, passes: list[dict], registry) -> list[tuple[str, list[str]]]:
    """Each query's result in each pass against its registered DuckDB
    oracle; the oracles run concurrently, one DuckDB cursor per thread."""
    from concurrent.futures import ThreadPoolExecutor

    import duckdb

    from oracle_check import compare

    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{corpus}/{t}.parquet'")
    names = sorted(set().union(*passes))

    def oracle(name):
        return con.cursor().execute(registry[name].oracle).fetchdf()

    with ThreadPoolExecutor(4) as pool:
        want = dict(zip(names, pool.map(oracle, names)))
    con.close()
    return [(f"{name}#{i}", compare(name, got[name], want[name]))
            for i, got in enumerate(passes) for name in got]


WORKLOADS = {"topic_scan": topic_scan, "topic_ingest": topic_ingest, "corpus_curate": corpus_curate}
