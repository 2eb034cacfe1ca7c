"""Physical-plan contracts — the properties that matter at 100 TB.

These tests pin the *plan*, not the result: pushdown reaching the scan,
dimensions broadcasting, partial aggregation, top-k limiting before the
shuffle, bucketed joins not shuffling.  A regression here is invisible
at sf0.001 and fatal at scale."""

from pyspark.sql import functions as F

import duckdb_extension_kafquack_spark.operators  # noqa: F401 — registers suite queries
import duckdb_extension_kafquack_spark.tpch  # noqa: F401 — registers TPC-H queries

from duckdb_extension_kafquack_spark.plans import (
    count_exchanges,
    executed_plan,
    pushed_filters,
    read_schemas,
    uses_broadcast_join,
    wholestage_codegen_spans,
)
from duckdb_extension_kafquack_spark.suite import REGISTRY
from tests.conftest import SF_DIR


def test_filter_and_projection_reach_parquet_scan(spark):
    df = REGISTRY["filter_project"].fn(spark, SF_DIR)
    pf = pushed_filters(df)
    assert pf and any("l_shipdate" in f or "l_quantity" in f for f in pf)
    rs = read_schemas(df)
    # only the 6 referenced columns are deserialized, not all 11
    assert rs and all("l_returnflag" not in s and "l_tax" not in s for s in rs)


def test_q5_broadcasts_dimensions(spark):
    df = REGISTRY["q5_local_supplier"].fn(spark, SF_DIR)
    assert uses_broadcast_join(df)
    plan = executed_plan(df)
    assert "BroadcastHashJoin" in plan


def test_q1_has_partial_aggregation(spark):
    df = REGISTRY["q1_pricing_summary"].fn(spark, SF_DIR)
    plan = executed_plan(df)
    assert "partial" in plan.lower()  # map-side combine before the exchange
    df.collect()  # AQE reveals codegen spans only in the final plan
    assert wholestage_codegen_spans(df) >= 1


def test_topk_limits_before_shuffle(spark):
    df = REGISTRY["topk_per_group"].fn(spark, SF_DIR)
    plan = executed_plan(df)
    assert "WindowGroupLimit" in plan  # partial top-k on the map side


def test_sort_limit_avoids_global_sort(spark):
    df = REGISTRY["sort_limit_offset"].fn(spark, SF_DIR)
    assert "TakeOrderedAndProject" in executed_plan(df)


def test_range_join_is_broadcast_nlj_not_cartesian_shuffle(spark):
    df = REGISTRY["range_join"].fn(spark, SF_DIR)
    assert "BroadcastNestedLoopJoin" in executed_plan(df)


def test_q8_broadcasts_all_dimensions(spark):
    """Six dimension legs (part, supplier, nation×2, region) broadcast;
    only orders⋈lineitem and the customer probe may shuffle."""
    df = REGISTRY["q8_market_share"].fn(spark, SF_DIR)
    plan = executed_plan(df)
    assert plan.count("BroadcastHashJoin") >= 4
    assert "CartesianProduct" not in plan


def test_q10_topn_avoids_global_sort(spark):
    """ORDER BY revenue LIMIT 20 must be TakeOrderedAndProject — each
    partition ships its local top 20, never a full sort exchange."""
    df = REGISTRY["q10_returned_items"].fn(spark, SF_DIR)
    assert "TakeOrderedAndProject" in executed_plan(df)


def test_simhash_signatures_are_map_side(spark):
    """The textbook simhash shape explodes every token and shuffles the
    whole token relation through groupBy(doc_id) — at 100 TB that shuffle
    IS the query.  Ours folds the signature per-row with HOF aggregate:
    no Generate (explode), and the only exchanges are the narrow-input
    spread + the final groupBy(simhash) on one long per doc."""
    df = REGISTRY["dedup_simhash"].fn(spark, SF_DIR)
    plan = executed_plan(df)
    assert "Generate" not in plan  # no explode anywhere
    assert count_exchanges(df) <= 2
    # the packed fold must appear exactly once per row: CollapseProject
    # must not have inlined the 21-lane aggregate into the 60 bit-tests
    assert plan.count("aggregate(transform(array_distinct") <= 1


def test_window_specs_share_one_shuffle(spark):
    """window_funcs has two window specs over the same partition key —
    they must reuse a single exchange on o_custkey."""
    df = REGISTRY["window_funcs"].fn(spark, SF_DIR)
    assert count_exchanges(df) <= 2


def test_bucketed_join_has_no_exchange(spark, tables, tmp_path):
    """Co-located (bucketed) large-large join: zero shuffle exchanges —
    the physical property bucketing buys at scale."""
    from duckdb_extension_kafquack_spark.sources.files import write_bucketed

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS bkt LOCATION '{tmp_path}/bkt'")
    try:
        write_bucketed(tables["orders"], "bkt.orders_b", "o_orderkey", 8)
        write_bucketed(
            tables["lineitem"].withColumnRenamed("l_orderkey", "o_orderkey"),
            "bkt.lineitem_b",
            "o_orderkey",
            8,
        )
        joined = spark.table("bkt.lineitem_b").join(
            spark.table("bkt.orders_b"), "o_orderkey"
        )
        n_shuffles = count_exchanges(joined)
        assert n_shuffles == 0, executed_plan(joined)
        assert joined.count() == tables["lineitem"].count()
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP DATABASE IF EXISTS bkt CASCADE")


def test_partitioned_write_prunes_on_read(spark, tables, tmp_path):
    from duckdb_extension_kafquack_spark.sources.files import (
        read_any,
        write_partitioned,
    )

    path = str(tmp_path / "orders_part")
    write_partitioned(tables["orders"], path, ["o_orderstatus"])
    df = read_any(spark, path).filter(F.col("o_orderstatus") == "F")
    plan = executed_plan(df)
    assert "PartitionFilters: [" in plan
    assert "o_orderstatus" in plan.split("PartitionFilters:")[1].split("]")[0]


def test_foreach_batch_sink(spark, tmp_path):
    """foreachBatch streaming sink: per-batch callable receives a batch
    DataFrame + id; exactly the rows of the source land in the target."""
    from duckdb_extension_kafquack_spark.sources.files import stream_foreach_batch
    from duckdb_extension_kafquack_spark.sources.synthetic import (
        kafka_messages_from_events,
        synthetic_kafka_stream,
    )

    out = str(tmp_path / "sink")
    seen: list[int] = []

    def write_batch(batch_df, batch_id: int) -> None:
        seen.append(batch_id)
        batch_df.write.mode("append").parquet(out)

    q = stream_foreach_batch(
        synthetic_kafka_stream(spark, SF_DIR), str(tmp_path / "ckpt"), write_batch
    )
    q.awaitTermination()
    assert len(seen) >= 1
    got = spark.read.parquet(out).count()
    want = kafka_messages_from_events(spark, SF_DIR).count()
    assert got == want


def test_csv_json_round_trip(spark, tables, tmp_path):
    """File-format scans beyond parquet (SURVEY §2.2 row 2): CSV and JSON
    writes read back with identical values."""
    from duckdb_extension_kafquack_spark.sources.files import read_any

    nation = tables["nation"]
    csv_path, json_path = str(tmp_path / "n_csv"), str(tmp_path / "n_json")
    nation.write.mode("overwrite").option("header", True).csv(csv_path)
    nation.write.mode("overwrite").json(json_path)
    got_csv = read_any(spark, csv_path, "csv", header=True, inferSchema=True)
    got_json = read_any(spark, json_path, "json")
    want = {(r.n_nationkey, r.n_name, r.n_regionkey) for r in nation.collect()}
    assert {(r.n_nationkey, r.n_name, r.n_regionkey) for r in got_csv.collect()} == want
    assert {(r.n_nationkey, r.n_name, r.n_regionkey) for r in got_json.collect()} == want


def test_sort_merge_join_hint_respected(spark):
    df = REGISTRY["sort_merge_join"].fn(spark, SF_DIR)
    assert "SortMergeJoin" in executed_plan(df)


def test_streaming_checkpoint_no_reprocessing(spark, tmp_path):
    """Offsets live in the checkpoint WAL (SURVEY §3.4): a second start
    from the same checkpoint reprocesses nothing — the engine's upgrade
    over the reference's per-message at-most-once commit."""
    from duckdb_extension_kafquack_spark.sources.synthetic import (
        kafka_messages_from_events,
        synthetic_kafka_stream,
    )

    out, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    want = kafka_messages_from_events(spark, SF_DIR).count()

    for _ in range(2):  # second run resumes from the committed offsets
        q = (
            synthetic_kafka_stream(spark, SF_DIR)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    assert spark.read.parquet(out).count() == want  # not 2×want


def test_watermark_bounds_state_and_append_emission(spark, tmp_path):
    """Watermark semantics Spark actually guarantees (and we rely on):
    append mode emits a window only once its end is below the watermark,
    and state for closed windows is evicted (bounded state).  NOTE:
    *dropping* of too-late input is best-effort in Spark — observed on
    4.1: a late window can be admitted and immediately finalized — so we
    pin emission/eviction, not drops."""
    import os
    import time as _time

    from pyspark.sql import functions as F

    src = str(tmp_path / "stream_src")
    rows_on_time = [(i, f"2024-01-02 12:{i % 60:02d}:00") for i in range(20)]
    rows_late = [(100 + i, f"2024-01-01 00:0{i}:00") for i in range(5)]  # a day late
    spark.createDataFrame(rows_on_time, "id long, ts_s string").withColumn(
        "ts", F.to_timestamp("ts_s")
    ).drop("ts_s").coalesce(1).write.parquet(src + "/batch1")
    _time.sleep(2)  # FileStreamSource orders by modification time
    spark.createDataFrame(rows_late, "id long, ts_s string").withColumn(
        "ts", F.to_timestamp("ts_s")
    ).drop("ts_s").coalesce(1).write.parquet(src + "/batch2")
    now = _time.time()
    for sub, t in (("batch1", now - 60), ("batch2", now)):
        for root, _, files in os.walk(f"{src}/{sub}"):
            for fn in files:
                os.utime(os.path.join(root, fn), (t, t))

    stream = (
        spark.readStream.schema("id long, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(src)
        .withWatermark("ts", "10 minutes")
    )
    agg = stream.groupBy(F.window("ts", "1 hour").alias("w")).count()
    q = (
        agg.writeStream.format("memory")
        .queryName("late_data_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    emitted = spark.table("late_data_test").collect()
    starts = [r.w.start.isoformat() for r in emitted]
    # 1. at-most-once emission per window
    assert len(starts) == len(set(starts))
    # 2. only windows strictly below the final watermark are emitted:
    #    the on-time 12:00 window (end 13:00 > watermark 12:09) stays open
    assert not any(s.startswith("2024-01-02") for s in starts), starts
    # 3. closed-window state was evicted (bounded state)
    last = q.recentProgress[-1]["stateOperators"][0]
    assert last["numRowsTotal"] <= 1, last


def test_stream_fan_out_consistent_sinks(spark, tmp_path):
    """Multi-sink fan-out: each target gets exactly its predicate's rows;
    together they partition the stream (error rows vs clean rows)."""
    from duckdb_extension_kafquack_spark.sources.files import stream_fan_out
    from duckdb_extension_kafquack_spark.sources.synthetic import (
        kafka_messages_from_events,
        synthetic_kafka_stream,
    )

    clean, errs = str(tmp_path / "clean"), str(tmp_path / "errs")
    q = stream_fan_out(
        synthetic_kafka_stream(spark, SF_DIR),
        str(tmp_path / "ckpt"),
        {clean: "error IS NULL", errs: "error IS NOT NULL"},
    )
    q.awaitTermination()
    km = kafka_messages_from_events(spark, SF_DIR)
    assert spark.read.parquet(clean).count() == km.filter("error IS NULL").count()
    assert spark.read.parquet(errs).count() == km.filter("error IS NOT NULL").count()


def test_checkpoint_resume_with_rocksdb_state(spark, tmp_path):
    """Stop/resume across restarts with the RocksDB state store active
    (SURVEY §7.4): phase 2 starts from the phase-1 checkpoint, reads ONLY
    the newly-arrived file, and its complete-mode output equals the batch
    aggregate over BOTH files — i.e. phase-1 state was recovered from the
    RocksDB checkpoint, not recomputed."""
    import shutil

    from pyspark.sql import functions as F

    assert "RocksDBStateStoreProvider" in spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass"
    )
    src = tmp_path / "stream_src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    shutil.copy("/root/testdata/sf0.1/events.parquet", src / "events_a.parquet")
    schema = spark.read.parquet(str(src / "events_a.parquet")).schema

    def run_once(qname):
        from duckdb_extension_kafquack_spark.session import normalize_event_ts

        ev = spark.readStream.schema(schema).parquet(str(src))
        ev = normalize_event_ts(ev)
        agg = (
            ev.withWatermark("ts", "30 days")
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        q = (
            agg.writeStream.format("memory")
            .queryName(qname)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {r.event_type: r.n for r in spark.table(qname).collect()}

    first = run_once("rocksdb_resume_1")
    want_a = {
        r.event_type: r.n
        for r in spark.read.parquet(str(src / "events_a.parquet"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert first == want_a

    shutil.copy("/root/testdata/sf0.01/events.parquet", src / "events_b.parquet")
    second = run_once("rocksdb_resume_2")
    want_both = {
        r.event_type: r.n
        for r in spark.read.parquet(str(src))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert second == want_both

    # the state checkpoint is really RocksDB: changelog checkpointing
    # writes per-batch .changelog deltas (+ .zip snapshots) under state/
    state_files = [p.name for p in (tmp_path / "ckpt" / "state").rglob("*") if p.is_file()]
    assert any(n.endswith(".changelog") for n in state_files) or any(
        n.endswith(".zip") for n in state_files
    ), f"no RocksDB artifacts in state dir: {state_files[:10]}"


def test_dup_span_coverage_no_window_sort(spark):
    """Shuffle budget AND straggler guard: the spreader + at most four
    keyed exchanges, and NO window over the shingle key — a count
    window partitioned on sh sorts and buffers the entire hot-shingle
    partition in one un-splittable task (the regression a code-review
    pass caught); hot keys must instead collapse through the map-side
    partial aggregate and stream through the join probe."""
    df = REGISTRY["dedup_dup_span_coverage"].fn(spark, SF_DIR)
    # 6 in the pre-AQE plan: the shared per-doc subtree prints twice
    # (join side + count side) until runtime exchange reuse collapses it
    assert count_exchanges(df) <= 6
    assert "Window" not in executed_plan(df)


def test_containment_broadcast_verify_no_window(spark):
    """At small SF, AQE's runtime-size decision broadcasts the
    candidate-pair relation into the verify joins (no FORCED hint —
    prefix candidates grow with dup density × prefix fan-out, and the
    forced broadcast OOM'd the 16×-replica scaling probe; at scale AQE
    degrades to a shuffle join); the per-doc prefix ranks via a
    doc-bounded HOF aggregate, never a per-shingle Window (hot-shingle
    partitions would buffer in one task); and nothing is a cartesian
    product."""
    df = REGISTRY["dedup_containment"].fn(spark, SF_DIR)
    plan = executed_plan(df)
    assert uses_broadcast_join(df)
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_hll_sketches_without_vocab_distinct(spark):
    """HLL registers are max-per-bucket (duplicate-idempotent), so the
    sketch must build DIRECTLY over the occurrence stream: the only
    exchanges are the 256-group register shuffle, the singleton final
    aggregate, and the narrow-fixture spreader — never a vocabulary-
    scale distinct."""
    df = REGISTRY["hll_distinct"].fn(spark, SF_DIR)
    assert count_exchanges(df) <= 3


def test_bloom_probe_is_joinless_bitmap(spark):
    """The packed-bitmap probe (round 7): the filter rides the plan as a
    BIGINT-array literal, so the probe side has NO join at all and the
    only token-scale exchange is the distinct-key aggregate (which also
    carries is_member) — plus the final 2×2 rollup and the narrow-
    fixture spreader."""
    df = REGISTRY["bloom_membership"].fn(spark, SF_DIR)
    plan = executed_plan(df)
    assert "Join" not in plan
    # the persisted distinct-key aggregate's build exchanges appear
    # INSIDE the InMemoryRelation and are counted again by the string
    # scan — the live dataflow is: spreader, one token-scale aggregate
    # (cached), final 2×2 rollup
    assert count_exchanges(df) <= 5


def test_filtered_ann_pushes_label_predicate(spark):
    """Pre-filter semantics: the label predicate reaches the parquet
    scan ahead of the IVF kernel."""
    df = REGISTRY["ann_filtered_topk"].fn(spark, SF_DIR)
    assert any("label" in f for f in pushed_filters(df))


def test_embedding_outliers_is_map_only(spark):
    """Nearest-centroid assignment adds no shuffle beyond the local
    spreader repartition: no aggregation, no join in the plan."""
    df = REGISTRY["embedding_outliers"].fn(spark, SF_DIR)
    plan = executed_plan(df)
    assert "Join" not in plan
    assert count_exchanges(df) <= 1  # the narrow-fixture spreader only


def test_payload_dedup_never_reads_payload(spark):
    """Payload-dedup accounting must not deserialize payload bytes: the
    documents scan reads only the columns the hash/size need."""
    df = REGISTRY["multimodal_payload_dedup"].fn(spark, SF_DIR)
    for schema in read_schemas(df):
        assert "payload" not in schema


def test_retrieval_join_broadcasts_hits(spark):
    """The tiny ANN hit list broadcasts into the documents join; the
    documents side must not shuffle."""
    df = REGISTRY["semantic_retrieval_join"].fn(spark, SF_DIR)
    assert uses_broadcast_join(df)


def test_scalar_totals_are_in_plan_not_driver_jobs(spark):
    """text_tfidf / text_surprisal corpus totals are 1-row aggregates
    broadcast into the plan (the oracles' CROSS JOIN n shape), not
    eager driver-side .count() calls: BUILDING the DataFrame must
    launch zero Spark jobs, and the plan must carry the 1-row
    broadcast (BroadcastNestedLoopJoin — benign scalar broadcast)."""
    sc = spark.sparkContext
    group = "plan-build-probe"
    # warm the table-load path first: the very first parquet load runs
    # driver file-listing/schema jobs that are not the eager-count smell
    # this test guards against
    REGISTRY["text_tfidf"].fn(spark, SF_DIR)
    sc.setJobGroup(group, "no jobs expected while building the plan")
    try:
        dfs = [REGISTRY[n].fn(spark, SF_DIR) for n in ("text_tfidf", "text_surprisal")]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    for df in dfs:
        assert "BroadcastNestedLoopJoin" in executed_plan(df)


def test_embedding_dim_stats_single_pass_no_explode(spark):
    """Per-dim stats must be ONE partial+final aggregate over the scan —
    no Generate (posexplode) multiplying the corpus 64x, no join; the
    only exchange is the 1-row partial->final agg."""
    from duckdb_extension_kafquack_spark.plans import has_partial_aggregation

    df = REGISTRY["embedding_dim_stats"].fn(spark, SF_DIR)
    plan = executed_plan(df)
    assert has_partial_aggregation(df)
    # the corpus-side explode would appear as Generate BELOW the agg;
    # the only Generate allowed is the 64-row inline of the 1-row result
    agg_part = plan.split("HashAggregate")[-1]
    assert "Generate" not in agg_part
    assert "Join" not in plan
    assert count_exchanges(df) == 1


def test_boilerplate_phrases_topk_before_shuffle(spark):
    """Phrase top-k must plan as TakeOrderedAndProject (per-partition
    partial top-k), never a global sort of the full phrase table."""
    df = REGISTRY["boilerplate_phrases"].fn(spark, SF_DIR)
    plan = executed_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan.lower()


def test_cross_source_dup_matrix_broadcasts_pairs(spark):
    """The near-dup pair relation is small by LSH construction but
    dup-density-scaled, so it must carry NO forced hint (a forced
    broadcast OOMs the driver on a billion-doc corpus) — AND at small SF
    AQE's runtime-size decision must still broadcast it into the
    documents joins (the corpus never re-shuffles for source tagging).
    Both halves matter: hint hygiene guards 100 TB, the final-plan check
    proves unhinting didn't cost the small-relation fast path."""
    from duckdb_extension_kafquack_spark.plans import (
        broadcast_hint_count,
        final_executed_plan,
    )

    df = REGISTRY["cross_source_dup_matrix"].fn(spark, SF_DIR)
    assert broadcast_hint_count(df) == 0
    assert "BroadcastHashJoin" in final_executed_plan(df)


def test_verified_pairs_persist_is_reordered_and_shared(spark):
    """r14 item 1: the CC-family consumers share ONE persisted
    verified-pair relation.  The persist must be a column-REORDERED
    projection (jaccard, doc1, doc2) so CacheManager can never
    substitute it into ``dedup_minhash_lsh``'s raw (doc1, doc2, jaccard)
    pipeline — the `_persisted_sig_sets` rule — while a CC consumer
    built afterwards must read the cache."""
    from duckdb_extension_kafquack_spark.operators.dedup import (
        _persisted_verified_pairs,
    )
    from duckdb_extension_kafquack_spark.session import load_tables

    docs = load_tables(spark, SF_DIR)["documents"]
    pairs = _persisted_verified_pairs(docs)
    assert pairs.columns == ["jaccard", "doc1", "doc2"]
    raw = REGISTRY["dedup_minhash_lsh"].fn(spark, SF_DIR)
    raw_opt = raw._jdf.queryExecution().optimizedPlan().toString()
    # the raw pipeline stays substitution-free: its only cache read is
    # the persisted SIGNATURE relation it consumes by design — an
    # InMemoryRelation outputting jaccard would be the pair cache
    for frag in raw_opt.split("InMemoryRelation")[1:]:
        assert "jaccard" not in frag.split("\n")[0].lower()
    # a direct pairs consumer reads the cache (the CC consumers read it
    # too, but inside the eagerly-built iteration — their returned frame
    # is a post-checkpoint LogicalRDD, so assert on the join consumer)
    mat = REGISTRY["cross_source_dup_matrix"].fn(spark, SF_DIR)
    mat_opt = mat._jdf.queryExecution().optimizedPlan().toString()
    assert any(
        "jaccard" in frag.split("\n")[0].lower()
        for frag in mat_opt.split("InMemoryRelation")[1:]
    )


def test_verified_cc_labels_memo_shares_per_corpus(spark):
    """r14: the four CC consumers (clusters, histogram, canonical,
    keep-best) share ONE memoized connected-components labels frame per
    (SparkContext, corpus plan) — the trained-codebook pattern.  The
    memo must hit for the same docs plan, miss for a semantically
    different one, and reuse must be value-identical to a fresh,
    unmemoized iteration over the same pair relation.  Leaves no memo
    entry or limit(0) pair persist behind for later tests."""
    from duckdb_extension_kafquack_spark import derived
    from duckdb_extension_kafquack_spark.operators.dedup import (
        _persisted_candidate_pairs,
        _persisted_sig_sets,
        _persisted_verified_pairs,
        _verified_cc_labels,
        connected_components,
    )
    from duckdb_extension_kafquack_spark.session import load_tables

    docs = load_tables(spark, SF_DIR)["documents"]
    empty = docs.limit(0)
    try:
        a = _verified_cc_labels(docs)
        assert _verified_cc_labels(docs) is a  # memo hit: the shared frame
        # a semantically different docs plan gets its own entry — no
        # cross-corpus bleed through the memo key
        assert _verified_cc_labels(empty) is not a
        keys = {k[2] for k in derived.entries("verified_cc")}
        assert {derived.plan_key(docs), derived.plan_key(empty)} <= keys
        # shared labels are value-identical to a fresh unmemoized run
        fresh = connected_components(
            _persisted_verified_pairs(docs).select("doc1", "doc2")
        )
        assert sorted(map(tuple, a.collect())) == sorted(
            map(tuple, fresh.collect())
        )
    finally:
        derived.clear("verified_cc")
        for persisted in (
            _persisted_verified_pairs,
            _persisted_candidate_pairs,
            _persisted_sig_sets,
        ):
            persisted(empty).unpersist(blocking=False)


def test_dedup_family_no_density_scaled_broadcast_hints(spark):
    """Repo-wide propagation of the containment lesson (its forced hint
    OOM'd the 16×-replica probe): every relation whose size grows with
    corpus size × dup density — candidate pairs, drop lists, component
    maps — joins UNHINTED, leaving the strategy to AQE's runtime size.
    The only allowed hint in the whole family is `_with_bucket_sub`'s
    hot-bucket map, which is bounded by MAX_HOT_BUCKETS (a design
    constant) and materialized through a capped collect."""
    from duckdb_extension_kafquack_spark.plans import broadcast_hint_count

    for name in (
        "dedup_minhash_lsh",
        "dedup_minhash_calibration",
        "dedup_ngram_jaccard",
        "dedup_incremental",
        "dedup_canonical_corpus",
        "dedup_keep_best_quality",
        "split_leakage",
        "dedup_containment",
    ):
        df = REGISTRY[name].fn(spark, SF_DIR)
        assert broadcast_hint_count(df) == 0, name


def test_streaming_incremental_dedup_no_corpus_broadcast_hints(spark):
    """The corpus-derived relations (md5 key set, band+shingle index)
    grow linearly with the corpus: forced broadcasts here are a driver
    OOM at 100 TB (AQE is disabled in stateful streaming plans, so the
    static stats estimate is the only guard).  Zero hints anywhere in
    the streaming classification plan."""
    from duckdb_extension_kafquack_spark.plans import broadcast_hint_count
    from duckdb_extension_kafquack_spark.streaming.windows import (
        _build_incremental_dedup_stream,
    )

    df = _build_incremental_dedup_stream(spark, SF_DIR)
    assert df.isStreaming
    assert broadcast_hint_count(df) == 0


def test_streaming_incremental_dedup_stored_reads_stores_unhinted(spark):
    """The stored-index variant must classify against the PREBUILT
    corpus state — parquet/bucketed-table scans, no documents-text
    re-derivation on the static side — and carry zero broadcast hints
    (same policy as the inline variant).  The stream plan's only
    documents scan is the arriving batch itself."""
    from duckdb_extension_kafquack_spark.plans import (
        analyzed_plan,
        broadcast_hint_count,
    )
    from duckdb_extension_kafquack_spark.streaming.windows import (
        _build_incremental_dedup_stored_stream,
    )

    df = _build_incremental_dedup_stored_stream(spark, SF_DIR)
    assert df.isStreaming
    assert broadcast_hint_count(df) == 0
    plan = analyzed_plan(df)
    assert "kafquack_corpus_bands" in plan  # bucketed band table scanned
    # exactly one streaming documents relation (the arriving batch);
    # the corpus side reads stores, never the documents parquet
    assert plan.count("StreamingRelation") == 1


def test_streaming_fuzzy_probes_bucketed_bench_store_unhinted(spark):
    """Round-12 shape: the fuzzy gate's per-micro-batch classify probes
    the ONCE-PER-PROCESS bucketed benchmark index (band sigs on
    band_sig, shingle sets on bench_id) with ZERO broadcast hints — AQE
    broadcasts the fixed-size benchmark when actually small, and a
    corpus-scaled replication degrades to a shuffle instead of a forced
    broadcast.  The stream plan's only documents relation is the
    arriving batch; the benchmark side reads stores, never re-shingles."""
    from duckdb_extension_kafquack_spark.plans import (
        analyzed_plan,
        broadcast_hint_count,
    )
    from duckdb_extension_kafquack_spark.streaming.windows import (
        _build_fuzzy_contamination_classify,
    )

    df = _build_fuzzy_contamination_classify(spark, SF_DIR)
    assert df.isStreaming
    assert broadcast_hint_count(df) == 0
    plan = analyzed_plan(df)
    assert "kafquack_fuzzy_bench_bands" in plan
    assert "kafquack_fuzzy_bench_sets" in plan
    assert plan.count("StreamingRelation") == 1


def test_streaming_bloom_gate_single_hint_is_filter_bits(spark):
    """Exactly ONE forced broadcast in the bloom gate — the ≤ m-row
    filter bitmap (constant-size by design).  The ground-truth audit
    join against the full corpus key set must stay unhinted, or the
    gate re-ships the entire history every micro-batch."""
    from duckdb_extension_kafquack_spark.plans import (
        analyzed_plan,
        broadcast_hint_count,
    )
    from duckdb_extension_kafquack_spark.streaming.windows import (
        _build_bloom_gate_stream,
    )

    df = _build_bloom_gate_stream(spark, SF_DIR)
    assert df.isStreaming
    assert broadcast_hint_count(df) == 1
    # the hinted subtree is the bit-level join (filter_bits), not the
    # md5-key audit join: the hint node's IMMEDIATE child must be the
    # bitmap projection — it carries the resolved `AS _b#` marker
    # attribute that only the filter_bits side projects (the audit
    # relation projects `AS _m#`), so moving the hint onto the
    # corpus-members join fails this, unlike a bare substring search
    # for "bit" which matches ubiquitous plan text (r9 advice)
    plan = analyzed_plan(df)
    hint_pos = plan.find("ResolvedHint")
    assert hint_pos >= 0
    hint_lines = plan[hint_pos:].splitlines()
    first_child = hint_lines[1]
    assert "AS _b#" in first_child and "bit#" in first_child
    assert "AS _m#" not in first_child


def test_candidate_pairs_expansion_is_join_free(spark):
    """Round-10 contract (CLAUDE.md): within-bucket LSH pairs come from
    ONE groupBy + a map-side HOF expansion — the physical plan must
    contain NO join node and exactly two exchanges (the bucket groupBy
    and the cross-band distinct).  A revert to the bucket-keyed
    self-join would re-shuffle the band relation twice and show up here
    as a Join + a third exchange."""
    from duckdb_extension_kafquack_spark.operators.dedup import candidate_pairs

    rows = [(d, 0, f"sig{d % 7}") for d in range(100)]
    bands = spark.createDataFrame(rows, "doc_id long, band int, band_sig string")
    df = candidate_pairs(bands)
    plan = executed_plan(df)
    assert "Join" not in plan
    assert "Generate" in plan  # the HOF explode
    assert count_exchanges(df) <= 2


def test_token_entropy_is_map_only(spark):
    """Per-doc entropy is a sorted run-length HOF fold inside one
    projection: no explode of the token relation, no join, no shuffle."""
    df = REGISTRY["text_token_entropy"].fn(spark, SF_DIR)
    plan = executed_plan(df)
    assert "Generate" not in plan
    assert "Join" not in plan
    assert count_exchanges(df) == 0


def test_padding_efficiency_partial_agg(spark):
    """The padding report reduces map-side: partial+final aggregate on
    ~languages keys, one exchange, no join."""
    from duckdb_extension_kafquack_spark.plans import has_partial_aggregation

    df = REGISTRY["padding_efficiency"].fn(spark, SF_DIR)
    assert has_partial_aggregation(df)
    assert "Join" not in executed_plan(df)
    assert count_exchanges(df) == 1


def test_semdedup_cell_prune_hint_and_tile_hygiene(spark):
    """SemDeDup's only forced broadcasts are the two hints on the
    (n_blocks²)-row tile literal — a design constant, never
    corpus-scaled (the broadcast-hint policy); the within-cell pair
    scan reaches the kernel through equi-joins on (cell, i, j), so
    there is no cartesian product and nothing corpus-sized crosses the
    driver.  The quadratic work lives INSIDE each tile's kernel."""
    from duckdb_extension_kafquack_spark.plans import broadcast_hint_count

    import re

    from duckdb_extension_kafquack_spark.operators.similarity import (
        IVF_CENTROIDS,
        SEMDEDUP_BLOCKS,
    )

    from duckdb_extension_kafquack_spark.operators.similarity import (
        _trained_cell_assigner,
    )
    from duckdb_extension_kafquack_spark.session import load_tables

    n_tiles = sum(1 for i in range(SEMDEDUP_BLOCKS) for j in range(SEMDEDUP_BLOCKS) if i <= j)
    cap = 2 * int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    # derive expected from the SAME live n_cells the operator uses
    # (r11 advice: a seed centroid that quantizes to zero norm makes
    # n_cells < IVF_CENTROIDS, so sizing from the constant would be a
    # spurious failure on such fixtures)
    emb = load_tables(spark, SF_DIR)["embeddings"]
    _assign, n_cells, _state = _trained_cell_assigner(
        emb, cache_key=SF_DIR, n_centroids=IVF_CENTROIDS
    )
    expected = min(max(1, n_cells) * n_tiles, cap)
    for name in ("semdedup_cell_prune", "semdedup_threshold_sweep"):
        df = REGISTRY[name].fn(spark, SF_DIR)
        assert broadcast_hint_count(df) == 2, name
        plan = executed_plan(df)
        assert "CartesianProduct" not in plan, name
        assert "FlatMapGroupsInPandas" in plan, name  # the tile kernel
        # tile partition count scales with the session's shuffle
        # parallelism, never the hard-64 local tuning (r10 verdict 3);
        # regex tolerant of plan-string format drift (r11 advice)
        m = re.search(r"hashpartitioning\(cell[^,)]*, i#[^,)]*, j#[^,)]*, (\d+)\)", plan)
        assert m and int(m.group(1)) == expected, (name, plan[:400])


def test_semdedup_incremental_is_one_corpus_kernel_pass(spark):
    """The batch-vs-corpus semantic classify closes the ingest-bounded
    batch over ONE fused corpus kernel (the cosine_topk query-batch
    contract — _bounded_collect caps the transfer): no join, no
    broadcast hint, no cartesian; the only exchange is the per-arrival
    rollup."""
    from duckdb_extension_kafquack_spark.plans import broadcast_hint_count

    df = REGISTRY["semdedup_incremental"].fn(spark, SF_DIR)
    assert broadcast_hint_count(df) == 0
    plan = executed_plan(df)
    assert "CartesianProduct" not in plan
    assert "Join" not in plan
    assert "MapInPandas" in plan
    assert count_exchanges(df) <= 2


def test_streaming_semdedup_stream_is_map_only_and_fallback_unhinted(spark):
    """Round-11 shape: the SemDeDup ingest STREAM is a map-only
    projection (no joins, no hints — the fused-kernel classify runs
    per micro-batch inside foreachBatch), and the >cap fallback's cell
    join carries zero broadcast hints (the corpus side is
    corpus-scaled; AQE / the static estimate decides)."""
    from pyspark.sql import functions as F

    from duckdb_extension_kafquack_spark.operators.similarity import (
        SEMDEDUP_BATCH_MOD,
        _semdedup_joined_flags,
        _trained_cell_assigner,
    )
    from duckdb_extension_kafquack_spark.plans import (
        analyzed_plan,
        broadcast_hint_count,
    )
    from duckdb_extension_kafquack_spark.session import load_tables
    from duckdb_extension_kafquack_spark.streaming.windows import (
        _build_semdedup_arrivals,
    )

    df = _build_semdedup_arrivals(spark, SF_DIR)
    assert df.isStreaming
    assert broadcast_hint_count(df) == 0
    assert "Join" not in analyzed_plan(df)
    emb = load_tables(spark, SF_DIR)["embeddings"]
    assign, _n, _state = _trained_cell_assigner(emb, cache_key=SF_DIR)
    fb = _semdedup_joined_flags(
        emb.filter(F.col("vec_id") % SEMDEDUP_BATCH_MOD == 0),
        emb.filter(F.col("vec_id") % SEMDEDUP_BATCH_MOD != 0),
        assign,
    )
    assert broadcast_hint_count(fb) == 0


def test_containment_summary_aggregates_with_partials_unhinted(spark):
    """The bounded-output containment row's scale claim: the per-doc
    rollup must carry map-side partial aggregation (pairs collapse
    before the exchange, so the post-shuffle relation is O(docs) even
    when dup density makes pairs quadratic), and the whole plan stays
    hint-free like the rest of the containment family."""
    from duckdb_extension_kafquack_spark.plans import broadcast_hint_count

    df = REGISTRY["dedup_containment_summary"].fn(spark, SF_DIR)
    plan = executed_plan(df)
    assert "partial_max" in plan or "partial" in plan.lower()
    assert broadcast_hint_count(df) == 0
