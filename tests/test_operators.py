"""North-star operator semantics on controlled inputs + fixture sanity."""

import pytest
from pyspark.sql import functions as F

import duckdb_extension_kafquack_spark.operators  # noqa: F401 — registers suite queries

from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),  # near-dup of 1
            (3, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
            (4, "completely different words here nothing shared at all"),
            (5, "alpha beta gamma delta epsilon zeta eta theta iota"),
        ],
        "doc_id long, text string",
    )


class TestDedup:
    def test_exact(self, spark, docs):
        from duckdb_extension_kafquack_spark.operators.dedup import exact_duplicates

        out = exact_duplicates(docs).collect()
        assert len(out) == 1
        assert out[0].canonical_id == 1 and out[0].n_copies == 2

    def test_bucket_sub_split_scatters_hot_buckets(self, spark):
        """_with_bucket_sub: cold buckets get sub=0 untouched; an
        oversized bucket scatters into ceil(n/cap) groups via the
        60-bit md5 hash of doc_id — and the Spark values must equal the
        DuckDB mirror formula exactly (the three LSH oracles inline it)."""
        import duckdb
        from pyspark.sql import functions as F

        from duckdb_extension_kafquack_spark.operators.dedup import _with_bucket_sub

        rows = [(d, 0, "hot") for d in range(200)] + [(d, 0, "cold") for d in range(10)]
        bands = spark.createDataFrame(rows, "doc_id long, band int, band_sig string")
        out = _with_bucket_sub(bands, 64).collect()
        cold = [r for r in out if r.band_sig == "cold"]
        hot = [r for r in out if r.band_sig == "hot"]
        assert {r.sub for r in cold} == {0}
        nsub = -(-200 // 64)  # ceil = 4
        assert {r.sub for r in hot} <= set(range(nsub))
        assert len({r.sub for r in hot}) > 1  # genuinely scattered
        # largest sub group stays near n/nsub (hash-uniform, no collapse)
        from collections import Counter

        biggest = max(Counter(r.sub for r in hot).values())
        assert biggest <= 2 * (200 // nsub)
        con = duckdb.connect()
        duck = {
            d: con.execute(
                f"SELECT ('0x' || substr(md5('{d}'), 1, 15))::BIGINT % {nsub}"
            ).fetchone()[0]
            for d in range(200)
        }
        for r in hot:
            assert r.sub == duck[r.doc_id], r.doc_id

    def test_minhash_finds_near_dup(self, spark, docs):
        from duckdb_extension_kafquack_spark.operators.dedup import (
            minhash_near_duplicates,
        )

        pairs = {(r.doc1, r.doc2) for r in minhash_near_duplicates(docs).collect()}
        assert (1, 2) in pairs and (1, 3) in pairs and (2, 3) in pairs
        assert not any(4 in p or 5 in p for p in pairs)

    def test_simhash_exact_dups_share_signature(self, spark, docs):
        from duckdb_extension_kafquack_spark.operators.dedup import simhash_signatures

        sig = {r.doc_id: r.simhash for r in simhash_signatures(docs).collect()}
        assert sig[1] == sig[3]
        assert sig[1] != sig[4]

    def test_ngram_jaccard(self, spark, docs):
        """Exact dups always collide in every band (jaccard 1.0); disjoint
        docs never become candidates.  One-word-off near-dups are subject
        to the 2-bands-of-4 S-curve — recall for them is probabilistic by
        design (the word-shingle MinHash operator is the high-recall one),
        so this test pins the guarantees, not the lottery."""
        from duckdb_extension_kafquack_spark.operators.dedup import ngram_jaccard_pairs

        pairs = {(r.doc1, r.doc2): r.jaccard for r in ngram_jaccard_pairs(docs).collect()}
        assert pairs[(1, 3)] == 1.0
        assert not any(4 in p or 5 in p for p in pairs)

    def test_ngram_jaccard_catches_repeated_duplication(self, spark):
        """A doc duplicated with a small tail edit (the common crawl-dup
        shape: same page, different footer) has shingle similarity ≈1 —
        all bands collide, pair found with its exact Jaccard."""
        from duckdb_extension_kafquack_spark.operators.dedup import ngram_jaccard_pairs

        body = " ".join(f"tok{i} word{i % 7} filler{i % 13}" for i in range(40))
        df = spark.createDataFrame(
            [(1, body + " footer one"), (2, body + " footer two"), (3, "unrelated text")],
            "doc_id long, text string",
        )
        pairs = {(r.doc1, r.doc2): r.jaccard for r in ngram_jaccard_pairs(df).collect()}
        assert (1, 2) in pairs and pairs[(1, 2)] >= 0.9


class TestSimilarity:
    def test_topk_self_is_excluded_and_ranked(self, spark, tables):
        from duckdb_extension_kafquack_spark.operators.similarity import cosine_topk

        emb = tables["embeddings"]
        queries = emb.filter(F.col("vec_id") == 0)
        out = cosine_topk(emb, queries, k=3).collect()
        assert len(out) == 3
        assert all(r.neighbor_id != 0 for r in out)
        assert [r.rank for r in out] == [1, 2, 3]
        assert out[0].cos_sim >= out[1].cos_sim >= out[2].cos_sim

    def test_near_dup_symmetric_thresholded(self, spark, tables):
        from duckdb_extension_kafquack_spark.operators.similarity import (
            embedding_near_duplicates,
        )

        out = embedding_near_duplicates(tables["embeddings"], threshold=0.45).collect()
        assert all(r.id1 < r.id2 and r.cos_sim >= 0.45 for r in out)

    def test_semdedup_prune_is_cell_scoped_subset(self, spark, tables):
        """Every SemDeDup prune decision must be backed by a GLOBAL
        near-dup pair (cluster scoping can only remove comparisons,
        never invent them), the keeper must be the smaller id, and a
        pruned vector whose keeper sits in another cell must NOT appear
        (the cell-scoping semantics, not a bug)."""
        from duckdb_extension_kafquack_spark.operators.similarity import (
            NEAR_DUP_COSINE,
            embedding_near_duplicates,
            semdedup_cell_prune,
        )

        emb = tables["embeddings"]
        global_pairs = {
            (r.id1, r.id2) for r in embedding_near_duplicates(emb).collect()
        }
        pruned = semdedup_cell_prune(emb, threshold=NEAR_DUP_COSINE).collect()
        assert pruned, "fixture should produce at least one semantic dup"
        for r in pruned:
            assert r.kept_id < r.vec_id
            assert (r.kept_id, r.vec_id) in global_pairs

    def test_oversized_query_batch_is_rejected(self, spark, tables, monkeypatch):
        """The ANN kernels close over a driver-side copy of the query
        batch; a corpus-proportional query set must fail fast with the
        guard's error, not OOM the driver.  The limit inside
        _bounded_collect also caps the TRANSFER — only cap+1 rows ever
        move — which this test can't see but the code path exercises."""
        import pytest

        from duckdb_extension_kafquack_spark.operators import similarity

        emb = tables["embeddings"]
        monkeypatch.setattr(similarity, "MAX_QUERY_BATCH", 5)
        with pytest.raises(ValueError, match="MAX_QUERY_BATCH"):
            similarity.cosine_topk(emb, emb.limit(10), k=3)
        # at or under the cap: builds fine
        similarity.cosine_topk(emb, emb.limit(5), k=3)


class TestText:
    def test_quality_bounds(self, spark, tables):
        from duckdb_extension_kafquack_spark.operators.text import quality_scores

        out = quality_scores(tables["documents"]).collect()
        assert all(0 <= r.type_token_ratio <= 1 for r in out)
        assert all(0 <= r.stopword_ratio <= 1 for r in out)
        assert all(r.n_tokens > 0 for r in out)

    def test_fingerprint_order_sensitive(self, spark):
        from duckdb_extension_kafquack_spark.operators.text import fingerprints

        df = spark.createDataFrame(
            [(1, "a b c d e f"), (2, "f e d c b a")], "doc_id long, text string"
        )
        fp = {r.doc_id: r.fingerprint for r in fingerprints(df).collect()}
        assert fp[1] != fp[2]

    def test_langid_deterministic(self, spark, tables):
        from duckdb_extension_kafquack_spark.operators.text import language_id

        a = language_id(tables["documents"]).orderBy("doc_id").collect()
        b = language_id(tables["documents"]).orderBy("doc_id").collect()
        assert a == b


class TestMultimodal:
    def test_payload_pruned_from_meta_projection(self, spark, tables, tmp_path):
        """Metadata-only reads must not deserialize payload bytes
        (column pruning — the property that matters at 100 TB)."""
        from duckdb_extension_kafquack_spark.operators.multimodal import (
            blobs_from_documents,
        )

        path = str(tmp_path / "blobs.parquet")
        blobs_from_documents(tables["documents"]).write.parquet(path)
        meta = spark.read.parquet(path).select("blob_id", "mime", "n_bytes")
        plan = meta._jdf.queryExecution().executedPlan().toString()
        read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
        assert "payload" not in read_schema  # pruned from the parquet scan
        assert meta.count() == tables["documents"].count()

    def test_decode_stub_features(self, spark, tables):
        from duckdb_extension_kafquack_spark.operators.multimodal import (
            blobs_from_documents,
            decode_features,
        )

        blobs = blobs_from_documents(tables["documents"])
        feats = decode_features(blobs).collect()
        assert all(0 <= r.width < 640 and 0 <= r.height < 480 for r in feats)

    def test_codec_support_reports_bools(self):
        from duckdb_extension_kafquack_spark.operators.multimodal import (
            codec_support,
        )

        s = codec_support()
        assert set(s) == {"image", "video"}
        assert all(isinstance(v, bool) for v in s.values())

    def test_decode_without_stub_raises_when_no_codec(self, spark, tables):
        """decode_stub=False without PIL must fail loudly, naming the
        missing dependency (VERDICT r4 item 7)."""
        from duckdb_extension_kafquack_spark.operators.multimodal import (
            blobs_from_documents,
            codec_support,
            decode_features,
        )

        if codec_support()["image"]:
            pytest.skip("PIL present — real-decode path active instead")
        blobs = blobs_from_documents(tables["documents"]).limit(1)
        with pytest.raises(Exception, match="PIL"):
            decode_features(blobs, decode_stub=False).collect()

    def test_real_image_decode_when_pil_present(self, spark, tables):
        """With PIL available, decode_stub=False extracts TRUE image
        dimensions from a generated PNG and yields NULL dims for
        undecodable payloads (errors-are-data)."""
        from duckdb_extension_kafquack_spark.operators.multimodal import (
            codec_support,
            decode_features,
        )

        if not codec_support()["image"]:
            pytest.skip("PIL not available in this environment")
        import io

        from PIL import Image

        buf = io.BytesIO()
        Image.new("RGB", (123, 45)).save(buf, format="PNG")
        blobs = spark.createDataFrame(
            [(1, "image/png", bytearray(buf.getvalue()), len(buf.getvalue()), "h"),
             (2, "image/png", bytearray(b"not an image"), 12, "h2")],
            "blob_id long, mime string, payload binary, n_bytes long, content_hash string",
        )
        feats = {r.blob_id: r for r in decode_features(blobs, decode_stub=False).collect()}
        assert (feats[1].width, feats[1].height) == (123, 45)
        assert feats[2].width is None and feats[2].height is None

    def test_real_resize_when_pil_present(self, spark):
        from duckdb_extension_kafquack_spark.operators.multimodal import (
            codec_support,
            resize_images,
        )

        if not codec_support()["image"]:
            pytest.skip("PIL not available in this environment")
        import io

        from PIL import Image

        buf = io.BytesIO()
        Image.new("RGB", (64, 64)).save(buf, format="PNG")
        blobs = spark.createDataFrame(
            [(1, "image/png", bytearray(buf.getvalue()), len(buf.getvalue()), "h")],
            "blob_id long, mime string, payload binary, n_bytes long, content_hash string",
        )
        out = resize_images(blobs, 16, 16, decode_stub=False).collect()[0]
        with Image.open(io.BytesIO(bytes(out.payload))) as im:
            assert im.size == (16, 16)

    def test_frame_sample_without_stub_raises_when_no_ffmpeg(self, spark, tables):
        from duckdb_extension_kafquack_spark.operators.multimodal import (
            blobs_from_documents,
            codec_support,
            sample_frames,
        )

        if codec_support()["video"]:
            pytest.skip("ffmpeg present — real-frame path active instead")
        blobs = blobs_from_documents(tables["documents"]).limit(1)
        with pytest.raises(Exception, match="ffmpeg"):
            sample_frames(blobs, decode_stub=False).collect()


class TestClustering:
    def test_connected_components_chain_and_islands(self, spark):
        from duckdb_extension_kafquack_spark.operators.dedup import (
            connected_components,
        )

        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22)],
            "doc1 long, doc2 long",
        )
        comp = {r.doc_id: r.cluster_id for r in connected_components(edges).collect()}
        assert comp[1] == comp[2] == comp[3] == comp[4] == 1
        assert comp[10] == comp[11] == 10
        assert comp[20] == comp[21] == comp[22] == 20

    def test_path_graph_converges_logarithmically(self, spark):
        """VERDICT r4 item 4: pointer doubling makes the worst case — a
        single path-shaped component — converge in O(log diameter)
        rounds, and the iteration guard exists.  A 64-vertex chain has
        diameter 63: plain propagation needs ~63 rounds, doubling must
        finish well within 10 (≈log₂63 + slack)."""
        from duckdb_extension_kafquack_spark.operators.dedup import (
            connected_components,
        )

        chain = spark.createDataFrame(
            [(i, i + 1) for i in range(63)], "doc1 long, doc2 long"
        )
        telemetry = {}
        comp = {
            r.doc_id: r.cluster_id
            for r in connected_components(
                chain, max_iterations=10, telemetry=telemetry
            ).collect()
        }
        assert all(c == 0 for c in comp.values())
        assert len(comp) == 64
        assert telemetry["rounds"] <= 10

    def test_iteration_guard_raises(self, spark):
        """max_iterations too small → loud RuntimeError, not an infinite
        or silently-wrong loop."""
        import pytest

        from duckdb_extension_kafquack_spark.operators.dedup import (
            connected_components,
        )

        chain = spark.createDataFrame(
            [(i, i + 1) for i in range(63)], "doc1 long, doc2 long"
        )
        with pytest.raises(RuntimeError, match="did not converge"):
            connected_components(chain, max_iterations=2)


class TestSkew:
    def test_salted_agg_equals_direct(self, spark, tables):
        from duckdb_extension_kafquack_spark.operators.skew import salted_agg

        li = tables["lineitem"]
        direct = {
            r.l_suppkey: (r.n, r.qty)
            for r in li.groupBy("l_suppkey")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("qty"))
            .collect()
        }
        salted = {
            r.l_suppkey: (r.n, r.sum_l_quantity)
            for r in salted_agg(li, ["l_suppkey"], sums=["l_quantity"]).collect()
        }
        assert direct == salted

    def test_salted_join_equals_plain_join(self, spark, tables):
        from duckdb_extension_kafquack_spark.operators.skew import salted_join

        li = tables["lineitem"].withColumnRenamed("l_suppkey", "s_suppkey")
        plain = li.join(tables["supplier"], "s_suppkey").count()
        salted = salted_join(li, tables["supplier"], "s_suppkey").count()
        assert plain == salted


class TestAsofJoin:
    def _frames(self, spark):
        purchases = spark.createDataFrame(
            [(1, 10, 100.0), (1, 25, 101.0), (2, 5, 102.0), (3, 7, 103.0)],
            "user long, t long, amount double",
        )
        signups = spark.createDataFrame(
            [(1, 8, "a"), (1, 20, "b"), (2, 6, "c"), (4, 1, "d")],
            "user long, t long, plan string",
        )
        return purchases, signups

    def test_backward_semantics(self, spark):
        from duckdb_extension_kafquack_spark.operators.joins import asof_join

        p, s = self._frames(spark)
        out = {(r.user, r.t): r.plan_right
               for r in asof_join(p, s, on="t", by="user", right_cols=["plan"]).collect()}
        assert out[(1, 10)] == "a"    # latest signup at/before t=10
        assert out[(1, 25)] == "b"
        assert out[(2, 5)] is None    # signup at t=6 is after
        assert out[(3, 7)] is None    # user has no signups

    def test_forward_semantics(self, spark):
        from duckdb_extension_kafquack_spark.operators.joins import asof_join

        p, s = self._frames(spark)
        out = {(r.user, r.t): r.plan_right
               for r in asof_join(p, s, on="t", by="user",
                                  right_cols=["plan"], direction="forward").collect()}
        assert out[(1, 10)] == "b"    # next signup at/after t=10
        assert out[(2, 5)] == "c"
        assert out[(1, 25)] is None

    def test_window_and_pandas_strategies_agree(self, spark):
        from duckdb_extension_kafquack_spark.operators.joins import (
            asof_join,
            asof_join_pandas,
        )

        p, s = self._frames(spark)
        a = {(r.user, r.t): r.plan_right
             for r in asof_join(p, s, on="t", by="user", right_cols=["plan"]).collect()}
        b = {(r.user, r.t): r.plan_right
             for r in asof_join_pandas(p, s, on="t", by="user", right_cols=["plan"]).collect()}
        assert a == b


class TestIntervalJoin:
    def test_bucketed_equals_naive_range_join(self, spark, tables):
        """The bucketized interval join returns exactly the rows of the
        naive non-equi join — same semantics, keyed shuffle instead of a
        per-key cross product."""
        from duckdb_extension_kafquack_spark.operators.joins import interval_join

        ev = tables["events"]
        p = ev.filter(F.col("event_type") == "purchase").select(
            F.col("event_id").alias("pid"), F.col("user_id"), F.col("ts").alias("pts")
        )
        s = ev.filter(F.col("event_type") == "signup").select(
            F.col("event_id").alias("sid"),
            F.col("user_id"),
            F.col("ts").alias("sts"),
        )
        naive = (
            p.join(s, "user_id")
            .filter(
                (F.col("sts") >= F.col("pts") - F.expr("INTERVAL 2 HOURS"))
                & (F.col("sts") <= F.col("pts"))
            )
            .select("pid", "sid")
        )
        bucketed = interval_join(
            p, s, "pts", "sts", by="user_id", lower="-2 hours", upper="0 seconds"
        ).select("pid", "sid")
        a = {(r.pid, r.sid) for r in naive.collect()}
        b = {(r.pid, r.sid) for r in bucketed.collect()}
        assert a == b and len(a) > 0


class TestCountMinSketch:
    def test_overestimate_only_and_heavy_hitters_exact(self, spark, tables):
        from duckdb_extension_kafquack_spark.suite import REGISTRY

        rows = REGISTRY["cms_frequency_estimates"].fn(spark, "/root/testdata/sf0.001").collect()
        assert all(r.overestimate >= 0 for r in rows)  # CMS never undercounts
        assert all(r.cms_estimate >= r.exact_count for r in rows)
        # with width >> distinct tokens, most estimates are exact
        exact_frac = sum(1 for r in rows if r.overestimate == 0) / len(rows)
        assert exact_frac >= 0.5, exact_frac


class TestShortDocShingles:
    def test_char_shingles_short_docs_match_oracle(self, spark):
        """Docs shorter than NGRAM chars: Spark's sequence() would go
        DESCENDING (bogus shingles) while DuckDB's range() yields [] —
        the CASE guard pins both engines to [text] (whole-doc shingle)."""
        import duckdb

        from duckdb_extension_kafquack_spark.operators.dedup import NGRAM, _char_shingles

        docs = spark.createDataFrame(
            [(1, "ab"), (2, "abcd"), (3, "abcde"), (4, "abcdef")],
            "doc_id long, text string",
        )
        got = {
            (r.doc_id, r.sh) for r in _char_shingles(docs).collect()
        }
        assert (1, "ab") in got and (2, "abcd") in got  # whole-doc shingle
        assert (3, "abcde") in got and len([g for g in got if g[0] == 3]) == 1
        assert {g[1] for g in got if g[0] == 4} == {"abcde", "bcdef"}

        con = duckdb.connect()
        con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
        con.executemany(
            "INSERT INTO documents VALUES (?, ?)",
            [(1, "ab"), (2, "abcd"), (3, "abcde"), (4, "abcdef")],
        )
        duck = set(
            con.execute(
                f"""SELECT DISTINCT doc_id, s.sh FROM documents,
                unnest(CASE WHEN length(text) >= {NGRAM}
                       THEN list_transform(range(1, length(text) - {NGRAM - 2}),
                                           i -> substr(text, i, {NGRAM}))
                       ELSE [text] END) AS s(sh)"""
            ).fetchall()
        )
        assert got == duck


class TestCuration:
    def test_repetition_scores_semantics(self, spark):
        from duckdb_extension_kafquack_spark.operators.curation import repetition_scores

        df = spark.createDataFrame(
            [
                (1, "en", "a a a a"),          # all dup words; top bigram "a a" ×3 of 3
                (2, "en", "w x y z"),          # no repetition
                (3, "en", "p q p q p q"),      # dup words; "p q" run of 3 over 5 bigrams
            ],
            "doc_id long, lang string, text string",
        )
        got = {r.doc_id: r for r in repetition_scores(df).collect()}
        assert got[1].dup_word_frac == pytest.approx(3 / 4)
        assert got[1].top_bigram_frac == pytest.approx(1.0)
        assert got[2].dup_word_frac == 0.0
        assert got[2].top_bigram_frac == pytest.approx(1 / 3)  # all distinct bigrams
        assert got[3].top_bigram_frac == pytest.approx(3 / 5)

    def test_contamination_broadcast_no_corpus_shuffle(self, spark):
        """Benchmark docs (id%97==0) contaminate only docs sharing a
        4-gram; the corpus side of the plan must not shuffle (broadcast
        join + map-side intersect + one rollup exchange)."""
        from duckdb_extension_kafquack_spark.operators.curation import (
            contamination_counts,
        )

        df = spark.createDataFrame(
            [
                (0, "s1", "one two three four five"),      # benchmark (0 % 97 == 0)
                (1, "s1", "one two three four nine"),      # shares 4-gram "one two three four"
                (2, "s1", "six seven eight nine ten"),     # clean
                (97 * 2, "s2", "zz yy xx ww vv"),          # benchmark
                (3, "s2", "aa bb cc dd ee"),               # clean
            ],
            "doc_id long, source string, text string",
        )
        got = {r.source: r for r in contamination_counts(df).collect()}
        assert got["s1"].contaminated_docs == 1 and got["s1"].docs_checked == 2
        assert got["s2"].contaminated_docs == 0

        plan = contamination_counts(df)._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan

    def test_mixture_resample_deterministic_and_rate_shaped(self, spark):
        from duckdb_extension_kafquack_spark.operators.curation import (
            MIXTURE_RATES,
            mixture_resample_report,
        )

        r1 = {r.lang: r for r in mixture_resample_report(spark, SF_DIR).collect()}
        r2 = {r.lang: r for r in mixture_resample_report(spark, SF_DIR).collect()}
        assert {k: (v.kept_docs, v.kept_chars) for k, v in r1.items()} == {
            k: (v.kept_docs, v.kept_chars) for k, v in r2.items()
        }  # hash sampling: bit-stable across runs
        assert r1["en"].kept_docs == r1["en"].total_docs  # rate 1.0 keeps all
        zh = r1["zh"]
        assert 0 < zh.kept_docs < zh.total_docs  # rate 0.1 strictly thins

    def test_pii_scrub_counts_and_shrinkage(self, spark):
        from duckdb_extension_kafquack_spark.operators.curation import scrub_report

        df = spark.createDataFrame(
            [
                (1, "s", "contact bob@example.com or 12345678 at 10.0.0.1"),
                (2, "s", "key hash key plain words"),
            ],
            "doc_id long, source string, text string",
        )
        row = scrub_report(df).collect()[0]
        assert row.emails == 1 and row.phones == 1 and row.ipv4s == 1
        assert row.blocklist_hits == 3
        assert row.scrubbed_chars > row.raw_chars  # [REDACTED] is longer


class TestEvents:
    def test_funnel_fold_order_and_strictness(self, spark):
        """The fold must respect event-time order (not input order) and
        only advance on STRICTLY later timestamps."""
        import datetime as dt

        from duckdb_extension_kafquack_spark.operators.events import funnel_stages

        t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)
        rows = [
            # u1: purchase arrives FIRST in input but LAST in event time → stage 3
            (1, t(30), "purchase"), (1, t(10), "view"), (1, t(20), "click"),
            # u2: click before view → stuck at stage 1
            (2, t(5), "click"), (2, t(10), "view"),
            # u3: click at the SAME instant as view → tie excluded, stage 1
            (3, t(10), "view"), (3, t(10), "click"),
            # u4: full funnel plus noise events
            (4, t(1), "view"), (4, t(2), "error"), (4, t(3), "click"), (4, t(4), "purchase"),
        ]
        df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
        got = {r.user_id: r.funnel_stage for r in funnel_stages(df).collect()}
        assert got == {1: 3, 2: 1, 3: 1, 4: 3}


class TestAsofTolerance:
    def _frames(self, spark):
        from pyspark.sql import functions as F

        purchases = spark.createDataFrame(
            [(1, "2024-01-01 10:00:00"), (1, "2024-01-01 12:00:00"),
             (2, "2024-01-01 09:00:00")],
            "user long, t string",
        ).select("user", F.col("t").cast("timestamp").alias("t"))
        views = spark.createDataFrame(
            [(1, "2024-01-01 09:50:00", "v1"), (1, "2024-01-01 10:30:00", "v2"),
             (2, "2024-01-01 07:00:00", "v3")],
            "user long, t string, page string",
        ).select("user", F.col("t").cast("timestamp").alias("t"), "page")
        return purchases, views

    def test_stale_matches_nulled(self, spark):
        from duckdb_extension_kafquack_spark.operators.joins import asof_join

        p, v = self._frames(spark)
        out = {
            (r.user, str(r.t)): r.page_right
            for r in asof_join(
                p, v, on="t", by="user", right_cols=["page"],
                tolerance="30 minutes",
            ).collect()
        }
        # 09:50 view is 10 min before the 10:00 purchase → kept
        assert out[(1, "2024-01-01 10:00:00")] == "v1"
        # latest view before 12:00 is 10:30 — 90 min stale → NULL
        assert out[(1, "2024-01-01 12:00:00")] is None
        # user 2's only view is 2h earlier → NULL
        assert out[(2, "2024-01-01 09:00:00")] is None

    def test_tolerance_none_keeps_all(self, spark):
        from duckdb_extension_kafquack_spark.operators.joins import asof_join

        p, v = self._frames(spark)
        out = {
            (r.user, str(r.t)): r.page_right
            for r in asof_join(p, v, on="t", by="user", right_cols=["page"]).collect()
        }
        assert out[(1, "2024-01-01 12:00:00")] == "v2"
        assert out[(2, "2024-01-01 09:00:00")] == "v3"

    def test_agrees_with_pandas_merge_asof(self, spark):
        from duckdb_extension_kafquack_spark.operators.joins import (
            asof_join,
            asof_join_pandas,
        )
        import pandas as pd

        p, v = self._frames(spark)
        a = {
            (r.user, str(r.t)): r.page_right
            for r in asof_join(
                p, v, on="t", by="user", right_cols=["page"], tolerance="30 minutes"
            ).collect()
        }
        b = {
            (r.user, str(r.t)): r.page_right
            for r in asof_join_pandas(
                p, v, on="t", by="user", right_cols=["page"],
                tolerance=pd.Timedelta(minutes=30),
            ).collect()
        }
        assert a == b

    def test_null_right_column_stays_null(self, spark):
        """ADVICE r4: carried columns ride in one struct per right row —
        a NULL column in the matched row must surface as NULL, never fall
        back to an older right row's value."""
        from duckdb_extension_kafquack_spark.operators.joins import asof_join

        left = spark.createDataFrame([(1, 10)], "k long, t long")
        right = spark.createDataFrame(
            [(1, 3, "old", "o"), (1, 8, "new", None)],
            "k long, t long, a string, b string",
        )
        row = asof_join(
            left, right, on="t", by="k", right_cols=["a", "b"]
        ).collect()[0]
        assert row.a_right == "new"
        assert row.b_right is None  # NOT "o" from the t=3 row

    def test_nearest_with_tolerance_cases(self, spark):
        """ADVICE r4 (medium): the nearest+tolerance combination —
        candidates are tolerance-filtered per direction BEFORE the
        nearest choice (merge_asof semantics).  Deterministic spot
        checks; full parity is the hypothesis property test."""
        from duckdb_extension_kafquack_spark.operators.joins import asof_join

        right = spark.createDataFrame(
            [(1, 99, "a"), (1, 104, "b")], "k long, t long, v string"
        )

        def nearest(t, tol):
            left = spark.createDataFrame([(1, t)], "k long, t long")
            return asof_join(
                left, right, on="t", by="k", right_cols=["v"],
                direction="nearest", tolerance=tol,
            ).collect()[0].v_right

        assert nearest(100, 10) == "a"  # both in tol → nearer (d=1 vs 4)
        assert nearest(103, 2) == "b"  # fwd d=1 in tol; back d=4 out
        assert nearest(100, 0) is None  # both out of tolerance
        assert nearest(97, 2) == "a"  # no backward candidate; fwd 99 d=2 in
        assert nearest(106, 1) is None  # back 104 d=2 out; no forward


class TestInt8Quantization:
    def test_codes_bounded_and_integer_valued(self, spark, tables):
        from duckdb_extension_kafquack_spark.operators.similarity import (
            _sq_minmax,
            _sq_quantize,
        )
        from pyspark.sql import functions as F

        emb = tables["embeddings"]
        qz = _sq_quantize(emb, _sq_minmax(emb))
        bad = qz.filter(
            F.exists("qv", lambda x: (x < 0) | (x > 255) | (x != F.floor(x)))
        ).count()
        assert bad == 0

    def test_extremes_map_to_0_and_255(self, spark, tables):
        """The corpus min of a dimension must code to 0 and the max to
        255 (affine map hits its endpoints)."""
        from duckdb_extension_kafquack_spark.operators.similarity import (
            _sq_minmax,
            _sq_quantize,
        )
        from pyspark.sql import functions as F

        emb = tables["embeddings"]
        qz = _sq_quantize(emb, _sq_minmax(emb))
        lo, hi = qz.agg(
            F.min(F.expr("qv[0]")), F.max(F.expr("qv[0]"))
        ).first()
        assert lo == 0.0 and hi == 255.0

    def test_int8_ranking_close_to_exact(self, spark, tables):
        """8-bit codes must preserve the similarity structure: the
        quantized top-1's EXACT cosine must be within 0.1 of the true
        best, and its exact rank in the head.  (Exact-agreement is the
        wrong bar here — the fixture's random embeddings concentrate all
        cosines in a narrow band, so quantization legitimately reshuffles
        near-ties; this guards against real breakage like an inverted
        scale, not tie noise.)"""
        from duckdb_extension_kafquack_spark.operators.similarity import (
            cosine_topk,
            int8_topk,
        )
        from pyspark.sql import functions as F

        emb = tables["embeddings"]
        queries = emb.filter(F.col("vec_id") % 100 == 0)
        exact = cosine_topk(emb, queries, k=20).toPandas()
        quant = {r.query_id: r.neighbor_id
                 for r in int8_topk(emb, queries).filter("rank = 1").collect()}
        for q, nb in quant.items():
            best = float(exact[(exact.query_id == q) & (exact["rank"] == 1)].cos_sim.iloc[0])
            pick = exact[(exact.query_id == q) & (exact.neighbor_id == nb)]
            assert len(pick) == 1, f"query {q}: int8 pick {nb} not in exact top-20"
            assert best - float(pick.cos_sim.iloc[0]) <= 0.1

    def test_int8_numpy_kernel_equals_codegen(self, spark, tables):
        """The round-5 numpy scoring kernel must be BIT-IDENTICAL to the
        retained pure-codegen form: quantized dots are exact integers so
        numpy's accumulation order cannot diverge — every (query,
        neighbor, rank, cos_q) row must match exactly, cos_q included."""
        from duckdb_extension_kafquack_spark.operators.similarity import (
            int8_topk,
            int8_topk_codegen,
        )
        from pyspark.sql import functions as F

        emb = tables["embeddings"]
        queries = emb.filter(F.col("vec_id") % 100 == 0)
        key = lambda r: (r.query_id, r.rank)
        a = sorted(int8_topk(emb, queries).collect(), key=key)
        b = sorted(int8_topk_codegen(emb, queries).collect(), key=key)
        assert len(a) == len(b) > 0
        for ra, rb in zip(a, b):
            assert (ra.query_id, ra.neighbor_id, ra.rank) == (
                rb.query_id, rb.neighbor_id, rb.rank)
            assert ra.cos_q == rb.cos_q  # exact, no tolerance

    def test_kmeans_codebook_trains_in_code_space(self, spark, tables):
        """Two Lloyd rounds over int8 codes: every returned centroid must
        stay inside the code cube [0,255]^64 (the integer-mean update
        guarantees it at ANY corpus size — the scale invariant), member
        counts must cover every nonzero-norm corpus row exactly once,
        and cell ids must come from the seed slice."""
        import numpy as np

        from duckdb_extension_kafquack_spark.operators.similarity import (
            IVF_CENTROIDS,
            _np_quantize,
            _sq_minmax_seeds_np,
            kmeans_codebook_train,
        )

        emb = tables["embeddings"]
        ids, counts, cents = kmeans_codebook_train(emb)
        assert set(ids) <= set(range(IVF_CENTROIDS))
        assert cents.min() >= 0 and cents.max() <= 255
        assert np.array_equal(cents, np.floor(cents))  # integer-valued
        mn, mx = _sq_minmax_seeds_np(emb, IVF_CENTROIDS)[:2]
        rows = emb.select("embedding").collect()
        codes = _np_quantize(
            np.array([r["embedding"] for r in rows], dtype=np.float64), mn, mx
        )
        n_live = int(((codes * codes).sum(axis=1) > 0).sum())
        assert counts.sum() == n_live

    def test_int8_ivf_prunes_but_keeps_shape(self, spark, tables):
        """The IVF-pruned int8 path (VERDICT r4 item 3): per-query k
        rows with contiguous ranks, scores drawn from the same quantized
        kernel — every (query, neighbor, cos_q) it returns must also
        appear in the UNPRUNED int8 scan's full scored set with the same
        value (pruning only removes candidates, never rescores)."""
        from duckdb_extension_kafquack_spark.operators.similarity import (
            int8_ivf_topk,
        )

        emb = tables["embeddings"]
        ivf = int8_ivf_topk(emb).collect()
        per_query = {}
        for r in ivf:
            per_query.setdefault(r.query_id, []).append(r.rank)
        for q, ranks in per_query.items():
            assert sorted(ranks) == list(range(1, len(ranks) + 1))
        # re-score the ivf picks with the same quantized kernel via a
        # targeted join — values must match exactly
        from duckdb_extension_kafquack_spark.operators.similarity import (
            _dot_sql,
            _sq_minmax,
            _sq_quantize,
        )

        qz = _sq_quantize(emb, _sq_minmax(emb))
        pairs = spark.createDataFrame(
            [(r.query_id, r.neighbor_id, r.cos_q) for r in ivf],
            "query_id long, neighbor_id long, cos_q double",
        )
        q1 = qz.selectExpr("vec_id AS query_id", "qv AS a")
        q2 = qz.selectExpr("vec_id AS neighbor_id", "qv AS b")
        rescored = (
            pairs.join(q1, "query_id").join(q2, "neighbor_id")
            .selectExpr(
                "cos_q",
                f"({_dot_sql('a', 'b')}) / "
                f"(SQRT({_dot_sql('a', 'a')}) * SQRT({_dot_sql('b', 'b')})) AS expect",
            )
            .collect()
        )
        assert rescored and all(r.cos_q == r.expect for r in rescored)


class TestIncrementalDedup:
    def test_classes_partition_the_batch(self, spark, tables):
        """exact + near + unique must sum to the batch count per source,
        and batch+corpus must cover all docs."""
        from duckdb_extension_kafquack_spark.operators.dedup import (
            incremental_dedup_report,
        )
        from pyspark.sql import functions as F

        docs = tables["documents"]
        rep = incremental_dedup_report(docs)
        bad = rep.filter(
            F.col("n_batch") != F.col("n_exact_dup") + F.col("n_near_dup") + F.col("n_unique")
        ).count()
        assert bad == 0
        total_batch = rep.agg(F.sum("n_batch")).first()[0]
        assert total_batch == docs.filter(F.col("doc_id") % 2 == 1).count()


class TestDatasetSplit:
    def test_partition_and_stability(self, spark, tables):
        """Splits partition the corpus; a doc's split is a pure function
        of doc_id (two independent evaluations agree — the leakage
        guarantee)."""
        from duckdb_extension_kafquack_spark.operators.curation import dataset_split
        from pyspark.sql import functions as F

        docs = tables["documents"]
        rep = dataset_split(docs)
        total = rep.agg(F.sum("n_docs")).first()[0]
        assert total == docs.count()
        a = {(r.lang, r.split): r.n_docs for r in rep.collect()}
        b = {(r.lang, r.split): r.n_docs for r in dataset_split(docs).collect()}
        assert a == b
        assert {s for (_, s) in a} <= {"train", "val", "test"}

    def test_train_dominates(self, spark, tables):
        from duckdb_extension_kafquack_spark.operators.curation import dataset_split
        from pyspark.sql import functions as F

        rep = dataset_split(tables["documents"])
        by_split = {
            r.split: r.n for r in rep.groupBy("split").agg(F.sum("n_docs").alias("n")).collect()
        }
        assert by_split.get("train", 0) > by_split.get("val", 0)
        assert by_split.get("train", 0) > by_split.get("test", 0)


class TestTokenBudget:
    def test_budget_respected_within_one_doc(self, spark, tables):
        """kept_tokens < budget + the largest kept doc (cut-on-running-sum
        overshoots by at most one doc), and kept <= total per language."""
        from duckdb_extension_kafquack_spark.operators.curation import (
            TOKEN_BUDGET,
            token_budget_sample,
        )
        from pyspark.sql import functions as F

        docs = tables["documents"]
        rep = token_budget_sample(docs)
        max_doc_toks = docs.selectExpr(
            "CAST(size(filter(split(text, ' '), t -> t != '')) AS BIGINT) AS n"
        ).agg(F.max("n")).first()[0]
        for r in rep.collect():
            assert r.kept_docs <= r.total_docs
            assert r.kept_tokens < TOKEN_BUDGET + max_doc_toks
            assert r.kept_docs > 0  # budget is non-trivial on the fixture


class TestAsofNearest:
    def test_nearest_semantics(self, spark):
        from duckdb_extension_kafquack_spark.operators.joins import asof_join
        from pyspark.sql import functions as F

        left = spark.createDataFrame(
            [(1, "2024-01-01 10:00:00"), (1, "2024-01-01 11:00:00"),
             (2, "2024-01-01 09:00:00")],
            "user long, t string",
        ).select("user", F.col("t").cast("timestamp").alias("t"))
        right = spark.createDataFrame(
            [(1, "2024-01-01 09:00:00", "a"),      # 60 min before 10:00
             (1, "2024-01-01 10:10:00", "b"),      # 10 min after 10:00, 50 before 11:00
             (2, "2024-01-01 09:30:00", "c")],     # only match, after
            "user long, t string, tag string",
        ).select("user", F.col("t").cast("timestamp").alias("t"), "tag")
        out = {
            (r.user, str(r.t)): r.tag_right
            for r in asof_join(
                left, right, on="t", by="user", right_cols=["tag"],
                direction="nearest",
            ).collect()
        }
        assert out[(1, "2024-01-01 10:00:00")] == "b"  # 10 min beats 60
        assert out[(1, "2024-01-01 11:00:00")] == "b"
        assert out[(2, "2024-01-01 09:00:00")] == "c"  # forward-only match

    def test_nearest_tie_prefers_backward(self, spark):
        from duckdb_extension_kafquack_spark.operators.joins import asof_join
        from pyspark.sql import functions as F

        left = spark.createDataFrame(
            [(1, "2024-01-01 10:00:00")], "user long, t string"
        ).select("user", F.col("t").cast("timestamp").alias("t"))
        right = spark.createDataFrame(
            [(1, "2024-01-01 09:50:00", "before"), (1, "2024-01-01 10:10:00", "after")],
            "user long, t string, tag string",
        ).select("user", F.col("t").cast("timestamp").alias("t"), "tag")
        out = asof_join(
            left, right, on="t", by="user", right_cols=["tag"], direction="nearest"
        ).first()
        assert out.tag_right == "before"  # equal 10-min distance → backward

    def test_agrees_with_pandas_nearest(self, spark, tables):
        from duckdb_extension_kafquack_spark.operators.joins import (
            asof_join,
            asof_join_pandas,
        )
        from pyspark.sql import functions as F

        ev = tables["events"]
        p = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
        v = ev.filter(F.col("event_type") == "view").select(
            "user_id", "ts", F.col("ts").alias("view_ts")
        )
        a = {r.event_id: r.view_ts for r in asof_join(
            p, v, on="ts", by="user_id", right_cols=["view_ts"], direction="nearest",
            suffix="").collect()}
        b = {r.event_id: r.view_ts for r in asof_join_pandas(
            p, v, on="ts", by="user_id", right_cols=["view_ts"], direction="nearest",
            suffix="").collect()}
        assert a == b


class TestAnnRecall:
    def test_recall_bounded_and_consistent(self, spark, tables):
        from duckdb_extension_kafquack_spark.operators.similarity import (
            ann_recall_at_k,
        )
        from tests.conftest import SF_DIR

        rows = {r.method: r for r in ann_recall_at_k(spark, SF_DIR).collect()}
        assert set(rows) == {"lsh", "ivf", "int8ivf"}
        for r in rows.values():
            assert 0.0 <= r.recall_at_k <= 1.0
            assert r.n_hits <= 5 * r.n_queries


class TestInt8Store:
    def test_store_roundtrip_matches_in_memory_and_prunes(self, spark, tables, tmp_path):
        """The materialized int8 code store: serving from the store must
        be BIT-IDENTICAL to computing from raw floats, and the probe
        scan must hit partition pruning on `cell` (unprobed cells'
        files never read — the I/O form of the IVF prune)."""
        from pyspark.sql import functions as F

        from duckdb_extension_kafquack_spark.operators.similarity import (
            QUERY_MOD,
            int8_ivf_from_store,
            int8_ivf_topk,
            store_quantized_codes,
        )

        emb = tables["embeddings"]
        path = str(tmp_path / "codes")
        store_quantized_codes(emb, path)
        queries = emb.filter(F.col("vec_id") % QUERY_MOD == 0)
        from_store = int8_ivf_from_store(spark, path, queries)
        rows_store = sorted(
            (r.query_id, r.neighbor_id, r.rank, r.cos_q)
            for r in from_store.collect()
        )
        rows_mem = sorted(
            (r.query_id, r.neighbor_id, r.rank, r.cos_q)
            for r in int8_ivf_topk(emb).collect()
        )
        assert rows_store == rows_mem and len(rows_store) > 0
        plan = from_store._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan and "cell" in plan
        # the probed-cell filter must actually reach the scan as a
        # partition filter, not a post-scan row filter
        import re

        m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
        assert m and "cell" in m.group(1), m.group(1) if m else plan[:500]

    def test_serve_only_query_builds_store_once(self, spark, tables):
        """ann_int8_store_serve: first call builds the store, later calls
        serve from it WITHOUT rewriting (steady-state measurement split,
        round-7 verdict item 3) — and results equal the raw-float path."""
        import os

        from duckdb_extension_kafquack_spark import derived
        from duckdb_extension_kafquack_spark.operators import similarity as sim
        from tests.conftest import SF_DIR

        derived.clear("int8_store_serve")
        first = sorted(map(tuple, sim.ann_int8_store_serve(spark, SF_DIR).collect()))
        ((_app, _kind, key), (path, _cb)), = derived.entries("int8_store_serve").items()
        assert key == SF_DIR
        marker = os.path.join(path + "_meta", "_SUCCESS")
        mtime = os.path.getmtime(marker)
        second = sorted(map(tuple, sim.ann_int8_store_serve(spark, SF_DIR).collect()))
        assert first == second and len(first) > 0
        assert os.path.getmtime(marker) == mtime, "store was rebuilt on serve"
        from pyspark.sql import functions as F

        emb = tables["embeddings"]
        rows_mem = sorted(map(tuple, sim.int8_ivf_topk(emb).collect()))
        assert first == rows_mem


class TestCanonicalCorpus:
    def test_kept_plus_dropped_is_total(self, spark, tables):
        from duckdb_extension_kafquack_spark.operators.dedup import (
            canonical_corpus,
            dedup_canonical_corpus,
        )
        from tests.conftest import SF_DIR

        docs = tables["documents"]
        report = dedup_canonical_corpus(spark, SF_DIR).collect()
        assert sum(r.n_total for r in report) == docs.count()
        for r in report:
            assert r.n_kept + r.n_dropped == r.n_total
        kept = canonical_corpus(docs)
        assert kept.count() == sum(r.n_kept for r in report)
        # canonical keepers are never dropped: every cluster min survives
        assert kept.count() < docs.count() or all(r.n_dropped == 0 for r in report)


class TestTextNormalize:
    def test_normalized_text_is_clean(self, spark, tables):
        from duckdb_extension_kafquack_spark.operators.text import normalize_text

        out = normalize_text(tables["documents"]).collect()
        import re

        for r in out[:100]:
            assert r.norm_text == r.norm_text.strip()
            assert not re.search(r"[^a-z0-9 ]", r.norm_text)
            assert "  " not in r.norm_text
            assert r.norm_len == len(r.norm_text)


class TestSignatureStore:
    def test_stored_candidates_match_recomputed_and_avoid_corpus_shuffle(
        self, spark, tables
    ):
        """The persisted band-signature table (nightly-ingest state):
        candidates from the store equal candidates from full
        recomputation, and the plan shuffles NOTHING (stored scan +
        broadcast batch)."""
        from duckdb_extension_kafquack_spark.operators.dedup import (
            incremental_candidates_from_store,
            minhash_bands,
            minhash_signatures,
            store_band_signatures,
        )
        from duckdb_extension_kafquack_spark.plans import count_exchanges

        docs = tables["documents"]
        corpus = docs.filter(F.col("doc_id") % 2 == 0)
        batch = docs.filter(F.col("doc_id") % 2 == 1)
        store_band_signatures(corpus, "t_sig_store")
        got = incremental_candidates_from_store(spark, batch, "t_sig_store")
        # the STORED CORPUS side must reach the join with no exchange:
        # its FileScan is bucketed and feeds BroadcastHashJoin directly.
        # (The plan's only exchanges are batch-/pair-sized: the batch
        # repartition and the final distinct — never the corpus.)
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "Bucketed: true" in plan
        join_idx = plan.index("BroadcastHashJoin")
        corpus_scan_idx = plan.index("t_sig_store")
        assert "Exchange" not in plan[join_idx:corpus_scan_idx]
        assert count_exchanges(got) <= 2
        cb = minhash_bands(minhash_signatures(corpus)).select(
            F.col("doc_id").alias("corpus_doc"), "band", "band_sig"
        )
        bb = minhash_bands(minhash_signatures(batch)).select(
            F.col("doc_id").alias("batch_doc"), "band", "band_sig"
        )
        expect = {
            (r.batch_doc, r.corpus_doc)
            for r in cb.join(bb, ["band", "band_sig"])
            .select("batch_doc", "corpus_doc")
            .distinct()
            .collect()
        }
        assert {(r.batch_doc, r.corpus_doc) for r in got.collect()} == expect
        assert expect  # fixture guarantees at least one near-dup pair


class TestRound5bOperators:
    """dup-span coverage, Bloom membership, n-gram novelty."""

    def test_dup_span_coverage_semantics(self, spark, docs):
        from duckdb_extension_kafquack_spark.operators.dedup import dup_span_coverage

        rows = {r.doc_id: r for r in dup_span_coverage(docs).collect()}
        # docs 1 and 3 are identical → every shingle position duplicated
        assert rows[1].dup_shingles == rows[1].total_shingles
        assert rows[3].span_duplicated
        assert rows[1].dup_frac == 1.0
        # doc 4 shares no 3-word shingle with anything
        assert rows[4].dup_shingles == 0 and not rows[4].span_duplicated
        # doc 2 shares its prefix shingles with 1/3 but not the last ones
        assert 0 < rows[2].dup_shingles < rows[2].total_shingles
        # positional counting: a 9-token doc has 7 3-word shingle positions
        assert rows[5].total_shingles == 7

    def test_bloom_no_false_negatives(self, spark):
        from duckdb_extension_kafquack_spark.operators.sketch import (
            bloom_build,
            bloom_probe,
        )

        keys = spark.createDataFrame(
            [(f"key-{i}",) for i in range(200)], "tok string"
        )
        probe = spark.createDataFrame(
            [(f"key-{i}",) for i in range(400)], "tok string"
        )
        bits = bloom_build(keys)
        out = {r.tok: r.bloom_positive for r in bloom_probe(bits, probe).collect()}
        # every member is positive (Bloom guarantee)
        assert all(out[f"key-{i}"] for i in range(200))
        # filter is bounded by m bits
        assert bits.count() <= 4096
        # non-members are mostly negative at this fill ratio (~200*4/4096)
        fp = sum(1 for i in range(200, 400) if out[f"key-{i}"])
        assert fp < 20

    def test_novelty_partitions_corpus_vocab(self, spark):
        from duckdb_extension_kafquack_spark.operators.text import (
            ngram_novelty_by_source,
        )

        docs = spark.createDataFrame(
            [
                (1, "a b c d e", "s1"),
                (2, "a b c d e", "s2"),      # wholly redundant vs s1
                (3, "x y z w v u", "s2"),    # new material
            ],
            "doc_id long, text string, source string",
        )
        rows = {r.source: r for r in ngram_novelty_by_source(docs).collect()}
        # novel counts sum to the corpus-wide distinct shingle count
        corpus_distinct = 3 + 4  # "a b c d e" has 3 shingles, "x y z w v u" has 4
        assert rows["s1"].novel_ngrams + rows["s2"].novel_ngrams == corpus_distinct
        # s1 claims everything it has; s2's copy of it is not novel
        assert rows["s1"].novel_ngrams == 3 and rows["s1"].novelty_frac == 1.0
        assert rows["s2"].novel_ngrams == 4 and rows["s2"].distinct_ngrams == 7

    def test_source_overlap_counts_and_jaccard(self, spark):
        """Round-10 grouped expansion: pairwise intersection counts on a
        hand-computable corpus must match the self-join definition (s1
        and s2 share exactly the 3 shingles of 'a b c d e'; s3 shares
        nothing)."""
        from duckdb_extension_kafquack_spark.operators.text import (
            source_overlap_matrix,
        )

        docs = spark.createDataFrame(
            [
                (1, "a b c d e", "s1"),
                (2, "a b c d e f", "s2"),   # 4 shingles, 3 shared with s1
                (3, "x y z w v u", "s3"),   # disjoint
            ],
            "doc_id long, text string, source string",
        )
        rows = {(r.source1, r.source2): r for r in source_overlap_matrix(docs).collect()}
        assert set(rows) == {("s1", "s2")}  # disjoint pairs never appear
        r = rows[("s1", "s2")]
        assert (r.inter_ngrams, r.n1, r.n2) == (3, 3, 4)
        assert r.jaccard == 3 / 4

    def test_filtered_ann_respects_predicate(self, spark):
        from duckdb_extension_kafquack_spark.operators.similarity import (
            FILTER_LABEL,
            ann_filtered_topk,
        )
        from duckdb_extension_kafquack_spark.session import load_tables

        out = ann_filtered_topk(spark, SF_DIR)
        emb = load_tables(spark, SF_DIR)["embeddings"]
        bad = (
            out.join(
                emb.select(F.col("vec_id").alias("neighbor_id"), "label"),
                "neighbor_id",
            )
            .filter(F.col("label") != FILTER_LABEL)
            .count()
        )
        assert bad == 0
        # every query gets ranks 1..n with no gaps
        import pyspark.sql.functions as SF

        ranks = out.groupBy("query_id").agg(
            SF.min("rank").alias("lo"), SF.max("rank").alias("hi"), SF.count("*").alias("n")
        )
        assert ranks.filter((SF.col("lo") != 1) | (SF.col("hi") != SF.col("n"))).count() == 0

    def test_hll_estimate_accuracy_and_determinism(self, spark):
        from duckdb_extension_kafquack_spark.operators.sketch import hll_distinct

        keys = spark.createDataFrame(
            [(f"key-{i}",) for i in range(2000)], "tok string"
        )
        r1 = hll_distinct(keys).collect()[0]
        r2 = hll_distinct(keys).collect()[0]
        # deterministic sketch: identical registers → identical estimate
        assert r1.harmonic_s == r2.harmonic_s
        assert r1.hll_estimate == r2.hll_estimate
        # 256 registers → σ ≈ 6.5%; 3σ bound
        assert abs(r1.hll_estimate - 2000) / 2000 < 0.2
        assert r1.n_registers == 256 and 0 < r1.n_present <= 256


class TestThresholdSweep:
    def test_counts_monotone_and_bounded(self, spark, tables):
        """Raising the threshold can only shrink every kept-pair count,
        and agreement is bounded by both marginals."""
        from duckdb_extension_kafquack_spark.operators.dedup import threshold_sweep

        rows = sorted(
            threshold_sweep(tables["documents"]).collect(),
            key=lambda r: r.threshold,
        )
        assert [r.threshold for r in rows] == [0.5, 0.6, 0.7, 0.8, 0.9]
        for a, b in zip(rows, rows[1:]):
            assert a.exact_pairs >= b.exact_pairs
            assert a.est_pairs >= b.est_pairs
        for r in rows:
            assert r.agree_pairs <= min(r.exact_pairs, r.est_pairs)


class TestVersionDiff:
    def test_statuses_partition_both_versions(self, spark, tables):
        """Every v1 doc is removed/changed/unchanged; every v2 doc is
        added/changed/unchanged — the diff must tie out to both corpus
        sizes exactly."""
        from duckdb_extension_kafquack_spark.operators.curation import (
            corpus_version_diff,
            synthetic_v2,
        )

        docs = tables["documents"]
        v2 = synthetic_v2(docs)
        by_status = {}
        for r in corpus_version_diff(docs, v2).collect():
            by_status[r.status] = by_status.get(r.status, 0) + r.n_docs
        n1, n2 = docs.count(), v2.count()
        assert by_status.get("removed", 0) + by_status.get("changed", 0) + by_status.get("unchanged", 0) == n1
        assert by_status.get("added", 0) + by_status.get("changed", 0) + by_status.get("unchanged", 0) == n2
        assert by_status.get("removed", 0) > 0 and by_status.get("added", 0) > 0
        assert by_status.get("changed", 0) > 0

    def test_reordered_corpus_reports_zero_churn(self, spark, tables):
        """Content-hash diffing: a reshuffled identical corpus is 100%
        unchanged (row order and partitioning must not read as churn)."""
        from duckdb_extension_kafquack_spark.operators.curation import (
            corpus_version_diff,
        )
        from pyspark.sql import functions as F

        docs = tables["documents"]
        shuffled = docs.repartition(7).sortWithinPartitions(F.col("n_chars"))
        out = corpus_version_diff(docs, shuffled).collect()
        assert {r.status for r in out} == {"unchanged"}
        assert sum(r.n_docs for r in out) == docs.count()


class TestCandidatePairExpansion:
    def test_grouped_hof_matches_self_join_semantics(self, spark):
        """Round-10: candidate_pairs' within-bucket expansion became ONE
        groupBy + a map-side HOF over the sorted id list (the self-join
        shuffled the band relation twice for the identical set).  Pin
        the contract on a bands relation with a hot bucket (sub-split
        active), a cold multi-member bucket, a singleton, and a
        cross-band duplicate pair: the output must equal the reference
        self-join computed right here."""
        from duckdb_extension_kafquack_spark.operators.dedup import candidate_pairs

        rows = (
            [(d, 0, "hot") for d in range(150)]          # oversized: sub-split
            + [(d, 0, "cold") for d in (500, 501, 502)]  # ordinary bucket
            + [(600, 0, "solo")]                          # singleton: no pairs
            + [(500, 1, "b2"), (501, 1, "b2")]            # dup pair via band 1
        )
        bands = spark.createDataFrame(rows, "doc_id long, band int, band_sig string")
        got = {(r.doc1, r.doc2) for r in candidate_pairs(bands).collect()}

        bands.createOrReplaceTempView("_cpx_bands")
        # reference: plain self-join on the SAME sub-split assignment
        from duckdb_extension_kafquack_spark.operators.dedup import (
            MAX_LSH_BUCKET,
            _with_bucket_sub,
        )

        sub = _with_bucket_sub(bands, MAX_LSH_BUCKET)
        sub.createOrReplaceTempView("_cpx_sub")
        ref = {
            (r.doc1, r.doc2)
            for r in spark.sql(
                "SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2 "
                "FROM _cpx_sub a JOIN _cpx_sub b ON a.band = b.band "
                "AND a.band_sig = b.band_sig AND a.sub = b.sub "
                "AND a.doc_id < b.doc_id"
            ).collect()
        }
        assert got == ref
        assert (500, 501) in got
        assert not any(600 in p for p in got)  # singleton yields no pairs


class TestInt8StoreLifecycle:
    def test_store_tag_disambiguates_same_basename(self):
        from duckdb_extension_kafquack_spark.operators.similarity import _store_tag

        a = _store_tag("/tmp/fixtures_a/sf0.01")
        b = _store_tag("/tmp/fixtures_b/sf0.01")
        assert a != b and a.startswith("sf0_01_")

    def test_topk_builds_store_at_most_once(self, spark):
        """r9 verdict item 3: ann_int8_store_topk memoizes the build per
        fixture dir — the second call must serve from the SAME files
        (no rewrite: the parquet mtimes don't change), measuring the
        steady-state contract; ann_int8_store_build is the row that
        pays the rebuild every call."""
        import glob
        import os

        from duckdb_extension_kafquack_spark import derived
        from duckdb_extension_kafquack_spark.suite import REGISTRY
        from tests.conftest import SF_DIR

        derived.clear("int8_store")
        REGISTRY["ann_int8_store_topk"].fn(spark, SF_DIR).collect()
        ((_app, _kind, key), (path, _cb)), = derived.entries("int8_store").items()
        assert key == SF_DIR
        files = sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
        assert files
        mtimes = {f: os.path.getmtime(f) for f in files}
        REGISTRY["ann_int8_store_topk"].fn(spark, SF_DIR).collect()
        assert {f: os.path.getmtime(f) for f in files} == mtimes


class TestHotBucketDegrade:
    def test_overflow_degrades_to_shuffled_join(self, spark, monkeypatch):
        """More oversized buckets than MAX_HOT_BUCKETS: the sub-split
        must still produce the exact same scatter via a shuffled join
        instead of a driver-materialized broadcast."""
        from duckdb_extension_kafquack_spark.operators import dedup

        rows = [(d, b, "hot") for b in range(3) for d in range(100)]
        bands = spark.createDataFrame(rows, "doc_id long, band int, band_sig string")
        normal = {(r.doc_id, r.band): r.sub for r in dedup._with_bucket_sub(bands, 64).collect()}
        monkeypatch.setattr(dedup, "MAX_HOT_BUCKETS", 2)
        degraded = {(r.doc_id, r.band): r.sub for r in dedup._with_bucket_sub(bands, 64).collect()}
        assert normal == degraded and len(normal) == 300


class TestSemdedupIncrementalDegrade:
    def test_oversized_batch_degrades_to_cell_join(self, spark, tables, monkeypatch):
        """An arriving batch beyond MAX_QUERY_BATCH must NOT raise (r10
        advice): the query degrades to the streaming twin's cell-join
        shape and produces the exact same verdicts as the fused-kernel
        path."""
        import numpy as np

        from duckdb_extension_kafquack_spark.operators import similarity as sim

        # synthetic corpus with guaranteed within-cell duplicates: 8 base
        # directions, each repeated across ids that straddle the mod-10
        # arriving/corpus split (identical vectors → cosine exactly 1)
        rng = np.random.RandomState(7)
        base = rng.rand(8, sim.DIM) + 0.1
        rows = [
            (int(i), [float(x) for x in base[i % 8]]) for i in range(120)
        ]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        normal = sorted(
            map(tuple, sim.semdedup_incremental(emb, cache_key=None).collect())
        )
        monkeypatch.setattr(sim, "MAX_QUERY_BATCH", 5)
        degraded = sorted(
            map(tuple, sim.semdedup_incremental(emb, cache_key=None).collect())
        )
        assert normal == degraded and len(normal) > 0


class TestCompaction:
    def test_file_count_and_rows_preserved(self, spark, tables, tmp_path):
        """64 tiny files compact to ceil(rows/target) files with every
        row intact; a target larger than the table gives one file."""
        import glob

        from duckdb_extension_kafquack_spark.sources.files import compact_parquet

        docs = tables["documents"].select("doc_id", "text")
        n = docs.count()
        small = str(tmp_path / "small")
        docs.repartition(64).write.parquet(small)
        assert len(glob.glob(small + "/*.parquet")) == 64
        out = str(tmp_path / "compacted")
        target = max(1, n // 3)
        files = compact_parquet(spark.read.parquet(small), out, target)
        assert files == -(-n // target)
        assert len(glob.glob(out + "/*.parquet")) == files
        assert spark.read.parquet(out).count() == n
        one = str(tmp_path / "one")
        assert compact_parquet(spark.read.parquet(small), one, n + 1) == 1
        assert len(glob.glob(one + "/*.parquet")) == 1


class TestIncrPartialsDrain:
    def test_replayed_batch_does_not_double_count(self, spark):
        """foreachBatch is at-least-once: the incr-dedup drain folds
        partials through `_BatchPartialFolder`, so a replayed micro-batch
        must OVERWRITE its partial, never add a second copy.  Simulate
        the replay by driving the per-batch handler shape directly."""
        from duckdb_extension_kafquack_spark.streaming.windows import (
            _BatchPartialFolder,
            _fold_incr_partial,
            _incr_batch_partials,
        )

        flags = spark.createDataFrame(
            [(1, "web", 1, 0), (1, "web", 0, 1), (2, "books", 0, 0)],
            "doc_id long, source string, ex_flag int, nr_flag int",
        )
        folder = _BatchPartialFolder(_fold_incr_partial)
        for _ in range(2):  # same batch_id delivered twice (replay)
            folder.add(0, _incr_batch_partials(flags).collect())
        totals = folder.totals()
        # doc 1 (web): ex wins over nr; doc 2 (books): unique — once each
        # layout per _fold_incr_partial: [n_batch, n_exact, n_near, n_unique]
        assert totals == {"web": [1, 1, 0, 0], "books": [1, 0, 0, 1]}


class TestInt8StoreUpsert:
    def test_upsert_is_idempotent_and_matches_same_codebook_rebuild(
        self, spark, tables, tmp_path
    ):
        """Replaying the same ingest must rewrite the delta segment, not
        duplicate it; and base ∪ delta must hold exactly the codes a
        full rebuild with the SAME frozen codebook would store."""
        from pyspark.sql import functions as F

        from duckdb_extension_kafquack_spark.operators.similarity import (
            STORE_UPSERT_MOD,
            _int8_encode_codes,
            _store_cell_counts_from_footers,
            store_quantized_codes,
            upsert_quantized_codes,
        )

        emb = tables["embeddings"]
        base = emb.filter(F.col("vec_id") % STORE_UPSERT_MOD != 0)
        arrivals = emb.filter(F.col("vec_id") % STORE_UPSERT_MOD == 0)
        path = str(tmp_path / "base")
        cb = store_quantized_codes(base, path)
        delta = upsert_quantized_codes(arrivals, path, cb)
        counts1 = sorted(
            map(tuple, _store_cell_counts_from_footers(spark, path, delta).collect())
        )
        delta2 = upsert_quantized_codes(arrivals, path, cb)  # replayed ingest
        counts2 = sorted(
            map(tuple, _store_cell_counts_from_footers(spark, path, delta2).collect())
        )
        assert counts1 == counts2 and len(counts1) > 0
        mn, mx, cent_ids, cents = cb
        expect = sorted(
            (int(r["cell"]), int(r["n"]))
            for r in _int8_encode_codes(emb, mn, mx, cent_ids, cents)
            .groupBy("cell")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        assert counts1 == expect

    def test_compaction_preserves_code_multiset_and_sidecar(
        self, spark, tables, tmp_path
    ):
        """Compacting base ∪ delta into a fresh store must move every
        (vec_id, qv, nrm, cell) row exactly once — no drop, no dup, no
        re-cell — and carry the frozen sidecar verbatim so a later
        query batch quantizes identically."""
        import os

        from pyspark.sql import functions as F

        from duckdb_extension_kafquack_spark.operators.similarity import (
            STORE_UPSERT_MOD,
            compact_quantized_store,
            store_quantized_codes,
            upsert_quantized_codes,
        )

        emb = tables["embeddings"]
        base = emb.filter(F.col("vec_id") % STORE_UPSERT_MOD != 0)
        arrivals = emb.filter(F.col("vec_id") % STORE_UPSERT_MOD == 0)
        path = str(tmp_path / "base")
        cb = store_quantized_codes(base, path)
        delta = upsert_quantized_codes(arrivals, path, cb)
        merged = compact_quantized_store(spark, path, [delta])

        def multiset(p):
            rows = (
                spark.read.parquet(p)
                .select("vec_id", "qv", "nrm", "cell")
                .collect()
            )
            return sorted(
                (r["vec_id"], tuple(r["qv"]), r["nrm"], r["cell"]) for r in rows
            )

        before = sorted(multiset(path) + multiset(delta))
        assert multiset(merged) == before and len(before) > 0
        assert os.path.exists(os.path.join(merged + "_meta", "_SUCCESS"))
        m_base = spark.read.parquet(path + "_meta").collect()[0]
        m_merged = spark.read.parquet(merged + "_meta").collect()[0]
        assert m_base["mn"] == m_merged["mn"] and m_base["mx"] == m_merged["mx"]
        # compaction bounds output: ≤ one file per live cell (fpc=1)
        n_files = sum(
            1
            for cd in os.listdir(merged)
            if cd.startswith("cell=")
            for f in os.listdir(os.path.join(merged, cd))
            if f.endswith(".parquet")
        )
        n_cells = sum(1 for cd in os.listdir(merged) if cd.startswith("cell="))
        assert n_files == n_cells


class TestStoreDurabilityEdges:
    """r12 verdict item 7: pin the r11-advice durability fixes with
    regression tests — each exercises the edge branch itself, not just
    the happy path around it."""

    def test_empty_corpus_store_build_writes_empty_store(self, spark, tables, tmp_path):
        """An EMPTY embeddings slice (the upsert base-build path can
        plausibly see one) must build an empty-but-intact store: a
        zeroed codebook, a written sidecar, and no crash in the encode
        kernel — not an exception out of the stats pass."""
        import numpy as np

        from duckdb_extension_kafquack_spark.operators.similarity import (
            store_quantized_codes,
        )

        empty = tables["embeddings"].filter(F.col("vec_id") < 0)
        path = str(tmp_path / "empty_store")
        mn, mx, cent_ids, cents = store_quantized_codes(empty, path)
        assert np.all(mn == 0.0) and np.all(mx == 0.0)
        assert len(cent_ids) == 0 and cents.shape[0] == 0
        import os

        assert os.path.exists(os.path.join(path + "_meta", "_SUCCESS"))
        assert spark.read.schema("vec_id long").parquet(path).count() == 0

    def test_embeddings_rowcount_partitioned_layout(self, spark, tables, tmp_path):
        """_embeddings_rowcount must count leaf files RECURSIVELY — a
        Hive-partitioned embeddings.parquet directory (the large-corpus
        layout the adaptive knobs exist for) counts every row; a dir
        with no parquet files raises instead of silently returning 0."""
        import pytest as _pytest

        from duckdb_extension_kafquack_spark.operators.similarity import (
            _embeddings_rowcount,
        )

        emb = tables["embeddings"]
        n = emb.count()
        sfdir = tmp_path / "sfp"
        (
            emb.withColumn("part", (F.col("vec_id") % 3).cast("int"))
            .write.partitionBy("part")
            .parquet(str(sfdir / "embeddings.parquet"))
        )
        assert _embeddings_rowcount(str(sfdir)) == n
        empty_dir = tmp_path / "sfe"
        (empty_dir / "embeddings.parquet").mkdir(parents=True)
        with _pytest.raises(FileNotFoundError):
            _embeddings_rowcount(str(empty_dir))

    def test_serve_store_rebuilds_after_data_deletion(self, spark, tmp_path):
        """A memoized store whose DATA dir was removed while the sidecar
        survived must fall through to the rebuild branch (not crash the
        footer walk): _store_intact is False on the husk, and the serve
        ensure-path rebuilds a working store at the same key."""
        import shutil

        import duckdb_extension_kafquack_spark.operators.similarity as sim

        sf = "/root/testdata/sf0.001"
        path = sim._ensure_int8_store(spark, sf)
        assert sim._store_intact(path)
        # simulate the r11 failure: data gone, sidecar still present
        shutil.rmtree(path)
        import os

        assert os.path.exists(os.path.join(path + "_meta", "_SUCCESS"))
        assert not sim._store_intact(path)
        rebuilt = sim._ensure_int8_store(spark, sf)
        assert rebuilt == path and sim._store_intact(rebuilt)

    def test_stale_delta_is_rewritten_by_compact(self, spark, tmp_path):
        """r12 advice: a delta segment stamped under a DIFFERENT
        codebook (e.g. left behind across a base rebuild) must not be
        silently compacted — the fingerprint check rejects it and the
        compact row rewrites the delta under the current base."""
        import os

        import duckdb_extension_kafquack_spark.operators.similarity as sim

        sf = "/root/testdata/sf0.001"
        path, cb = sim._ensure_upsert_base(spark, sf)
        delta = path + "_delta"
        if not os.path.exists(os.path.join(delta, "_SUCCESS")):
            from duckdb_extension_kafquack_spark.session import load_tables

            emb = load_tables(spark, sf)["embeddings"]
            arrivals = emb.filter(F.col("vec_id") % sim.STORE_UPSERT_MOD == 0)
            sim.upsert_quantized_codes(arrivals, path, cb)
        assert sim._delta_matches_codebook(delta, cb)
        # tamper the stamp: simulates a delta written under an old base
        with open(os.path.join(delta, sim._DELTA_STAMP), "w") as fh:
            fh.write("0" * 32)
        assert not sim._delta_matches_codebook(delta, cb)
        out = sim.ann_int8_store_compact(spark, sf)
        assert out.count() > 0
        # the compact path rewrote the delta under the CURRENT codebook
        assert sim._delta_matches_codebook(delta, cb)

    def test_contamination_grams_persist_lru_bounded(self, spark, tables):
        """r12 advice: the persisted per-doc gram relation is memoized
        per input plan with a 2-entry LRU — a third distinct input
        evicts (and unpersists) the oldest instead of pinning unbounded
        corpus-scaled cache for process lifetime."""
        import duckdb_extension_kafquack_spark.operators.curation as cur
        from duckdb_extension_kafquack_spark import derived

        docs = tables["documents"]
        derived.clear("grams")
        a = cur._persisted_grams(docs)
        b = cur._persisted_grams(docs.limit(10))
        c = cur._persisted_grams(docs.limit(20))
        assert len(derived.entries("grams")) == 2
        # same-plan call is a cache hit, not a new entry
        assert cur._persisted_grams(docs.limit(20)) is c
        assert len(derived.entries("grams")) == 2
        # evicted relation is unpersisted; survivors still cached
        assert a.storageLevel.useMemory is False
        assert c.storageLevel.useMemory is True
        derived.clear("grams")  # unpersists b and c
        assert b.storageLevel.useMemory is False
        assert c.storageLevel.useMemory is False


class TestInlineDedupCorpusRouting:
    def test_inline_routes_to_stored_past_corpus_floor(self, spark):
        """r12 verdict item 5: past INLINE_DEDUP_MAX_CORPUS docs the
        inline streaming-dedup query must serve the STORED-index path
        (re-deriving the corpus index per ingest is the scale-killer
        the store amortizes).  Values are identical either way (shared
        oracle), so the check is that the routed run populates the
        store memo for the fixture dir — the stored
        path's signature — and still returns the classify rollup."""
        import duckdb_extension_kafquack_spark.streaming.windows as w
        from duckdb_extension_kafquack_spark import derived

        sf = "/root/testdata/sf0.001"
        baseline = {
            tuple(r)
            for r in w.streaming_incremental_dedup_stored(spark, sf).collect()
        }
        saved = w.INLINE_DEDUP_MAX_CORPUS
        w.INLINE_DEDUP_MAX_CORPUS = 0  # force the routing branch
        try:
            derived.clear("incr_store")  # prove the routed run rebuilds it
            routed = {
                tuple(r) for r in w.streaming_incremental_dedup(spark, sf).collect()
            }
        finally:
            w.INLINE_DEDUP_MAX_CORPUS = saved
        stored = {key for _app, _kind, key in derived.entries("incr_store")}
        assert sf in stored  # stored path ran
        assert routed == baseline and len(routed) > 0


class TestEdgePartitions:
    """The rank family's persisted edge relation sizes its partition
    count to the events input's physical split count (r13): floor 4 so
    single-split fixtures stay parallel-enough without scheduling a
    full shuffle-width of near-empty tasks per iteration stage, capped
    at the session's configured shuffle width so wide cluster scans
    keep their layout."""

    def test_floor_on_single_split_fixture(self, spark, tables):
        from duckdb_extension_kafquack_spark.operators.events import (
            _edge_partitions,
        )

        assert _edge_partitions(tables["events"]) == 4

    def test_cap_at_shuffle_width(self, spark):
        from duckdb_extension_kafquack_spark.operators.events import (
            _edge_partitions,
        )

        cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
        wide = spark.range(10_000).repartition(cap * 2)
        assert _edge_partitions(wide) == cap

    def test_between_floor_and_cap_tracks_splits(self, spark):
        from duckdb_extension_kafquack_spark.operators.events import (
            _edge_partitions,
        )

        # the cap is the session's shuffle width, which follows the CPU
        # count: widen it past 7 so a value strictly between the floor
        # and the cap exists on any host
        old = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "16")
        try:
            mid = spark.range(10_000).repartition(7)
            assert _edge_partitions(mid) == 7
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old)
