"""Property-based equivalence tests (hypothesis): the rewrite rules the
engine relies on hold for arbitrary inputs, not just the fixtures.

Example counts are small (each example runs Spark jobs); properties are
chosen so a failure would indicate a real semantic bug, not flakiness.
"""

import math

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

SLOW = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=5),  # key (few → collisions guaranteed)
        st.integers(min_value=-1000, max_value=1000),  # int value
    ),
    min_size=1,
    max_size=40,
)


@SLOW
@given(data=rows)
def test_salted_agg_equals_direct_agg(spark, data):
    """Two-phase salted aggregation ≡ direct groupBy for any input."""
    from duckdb_extension_kafquack_spark.operators.skew import salted_agg

    df = spark.createDataFrame(
        [(k, float(v)) for k, v in data], "k long, v double"
    )
    direct = {
        r.k: (r.n, r.s)
        for r in df.groupBy("k").agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s")).collect()
    }
    salted = {
        r.k: (r.n, r.sum_v)
        for r in salted_agg(df, ["k"], sums=["v"], salt_buckets=4).collect()
    }
    assert set(direct) == set(salted)
    for k in direct:
        assert direct[k][0] == salted[k][0]
        assert math.isclose(direct[k][1], salted[k][1], rel_tol=1e-9, abs_tol=1e-9)


timed_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),  # key
        st.integers(min_value=0, max_value=100),  # time
    ),
    min_size=1,
    max_size=25,
    unique=True,
)


@SLOW
@given(left=timed_rows, right=timed_rows)
def test_asof_window_equals_pandas_strategy(spark, left, right):
    """The union+window as-of join ≡ pandas merge_asof for any input."""
    from duckdb_extension_kafquack_spark.operators.joins import (
        asof_join,
        asof_join_pandas,
    )

    ldf = spark.createDataFrame(
        [(k, t, float(i)) for i, (k, t) in enumerate(left)], "k long, t long, lv double"
    )
    rdf = spark.createDataFrame(
        [(k, t, f"r{i}") for i, (k, t) in enumerate(right)], "k long, t long, plan string"
    )
    a = {
        (r.k, r.t): r.plan_right
        for r in asof_join(ldf, rdf, on="t", by="k", right_cols=["plan"]).collect()
    }
    b = {
        (r.k, r.t): r.plan_right
        for r in asof_join_pandas(ldf, rdf, on="t", by="k", right_cols=["plan"]).collect()
    }
    assert a == b


edges_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=12), st.integers(min_value=0, max_value=12)
    ).filter(lambda e: e[0] != e[1]),
    min_size=1,
    max_size=15,
)


@SLOW
@given(edges=edges_strategy)
def test_connected_components_against_union_find(spark, edges):
    """Distributed min-label propagation ≡ classic driver-side union-find."""
    from duckdb_extension_kafquack_spark.operators.dedup import connected_components

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a: int, b: int) -> None:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    want = {v: find(v) for v in parent}
    # canonicalize: min member of each component
    comp_min: dict[int, int] = {}
    for v, r in want.items():
        comp_min[r] = min(comp_min.get(r, v), v)
    want = {v: comp_min[find(v)] for v in parent}

    df = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in edges], "doc1 long, doc2 long"
    )
    got = {r.doc_id: r.cluster_id for r in connected_components(df).collect()}
    assert got == want


interval_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),  # key
        st.integers(min_value=0, max_value=500),  # seconds offset
    ),
    min_size=1,
    max_size=20,
)


@SLOW
@given(left=interval_rows, right=interval_rows)
def test_interval_join_equals_naive(spark, left, right):
    """Bucketized interval join ≡ naive non-equi join for arbitrary
    event times (bucket width chosen smaller than the interval span to
    exercise the multi-bucket fan-out path)."""
    from duckdb_extension_kafquack_spark.operators.joins import interval_join

    ldf = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(left)], "lid long, k long, ls long"
    ).withColumn("lts", F.timestamp_seconds(F.col("ls")))
    rdf = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(right)], "rid long, k long, rs long"
    ).withColumn("rts", F.timestamp_seconds(F.col("rs")))
    naive = (
        ldf.join(rdf, "k")
        .filter(
            (F.col("rts") >= F.col("lts") - F.expr("INTERVAL 3 MINUTES"))
            & (F.col("rts") <= F.col("lts") + F.expr("INTERVAL 1 MINUTES"))
        )
        .select("lid", "rid")
    )
    bucketed = interval_join(
        ldf, rdf, "lts", "rts", by="k",
        lower="-3 minutes", upper="1 minutes", bucket="1 minute",
    ).select("lid", "rid")
    assert {(r.lid, r.rid) for r in naive.collect()} == {
        (r.lid, r.rid) for r in bucketed.collect()
    }


doc_texts = st.lists(
    st.text(alphabet="abcd ", min_size=1, max_size=30).map(str.strip).filter(bool),
    min_size=2,
    max_size=8,
)


@SLOW
@given(texts=doc_texts)
def test_minhash_always_finds_exact_duplicates(spark, texts):
    """Guarantee (not lottery): an exact duplicate has identical shingle
    sets → identical minhashes → collides in EVERY band → the pair is
    always emitted with jaccard 1.0."""
    from duckdb_extension_kafquack_spark.operators.dedup import (
        minhash_near_duplicates,
    )

    rows = [(i, t) for i, t in enumerate(texts)]
    dup_id = len(rows)
    rows.append((dup_id, texts[0]))  # exact dup of doc 0
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {(r.doc1, r.doc2): r.jaccard for r in minhash_near_duplicates(df).collect()}
    assert pairs.get((0, dup_id)) == 1.0


def test_operators_handle_empty_input(spark):
    """Every core operator returns an empty result (not an error) on an
    empty table — the behavior composed pipelines rely on."""
    from duckdb_extension_kafquack_spark.operators.dedup import (
        exact_duplicates,
        minhash_near_duplicates,
        simhash_signatures,
    )
    from duckdb_extension_kafquack_spark.operators.text import (
        fingerprints,
        quality_scores,
        vocabulary,
    )

    empty = spark.createDataFrame([], "doc_id long, text string, lang string, source string, n_chars long")
    for op in (exact_duplicates, minhash_near_duplicates, simhash_signatures,
               quality_scores, fingerprints, vocabulary):
        assert op(empty).count() == 0, op.__name__


def test_curation_handles_empty_and_short_docs(spark):
    """Short docs (< n-gram length) must yield empty gram sets, never the
    descending-sequence bogus shingles (ADVICE r01); empty inputs flow
    through every curation op."""
    from duckdb_extension_kafquack_spark.operators.curation import (
        contamination_counts,
        mixture_resample,
        repetition_scores,
        scrub_report,
    )

    empty = spark.createDataFrame(
        [], "doc_id long, text string, lang string, source string, n_chars long"
    )
    assert contamination_counts(empty).count() == 0
    assert repetition_scores(empty).count() == 0
    assert scrub_report(empty).count() == 0
    assert mixture_resample(empty).count() == 0

    short = spark.createDataFrame(
        [(0, "one two", "en", "s", 7), (1, "a", "en", "s", 1), (97, "x y z", "en", "s", 5)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    # doc 0 and 97 are benchmark rows (id % 97 == 0); none has a 4-gram
    row = contamination_counts(short).collect()[0]
    assert row.docs_checked == 1 and row.contaminated_docs == 0
    reps = {r.doc_id: r for r in repetition_scores(short).collect()}
    assert reps[1].dup_word_frac == 0.0 and reps[1].top_bigram_frac == 0.0


def test_events_ops_handle_empty_input(spark):
    from duckdb_extension_kafquack_spark.operators.events import funnel_stages

    empty = spark.createDataFrame([], "user_id long, ts timestamp, event_type string")
    assert funnel_stages(empty).count() == 0


@SLOW
@given(left=timed_rows, right=timed_rows)
def test_asof_nearest_equals_pandas_strategy(spark, left, right):
    """direction='nearest' (one sort order, two frames) ≡ pandas
    merge_asof nearest for any input, including exact-distance ties
    (both prefer backward)."""
    from duckdb_extension_kafquack_spark.operators.joins import (
        asof_join,
        asof_join_pandas,
    )

    ldf = spark.createDataFrame(
        [(k, t) for (k, t) in left], "k long, t long"
    )
    rdf = spark.createDataFrame(
        [(k, t, f"r{i}") for i, (k, t) in enumerate(right)], "k long, t long, plan string"
    )
    a = {
        (r.k, r.t): r.plan_right
        for r in asof_join(
            ldf, rdf, on="t", by="k", right_cols=["plan"], direction="nearest"
        ).collect()
    }
    b = {
        (r.k, r.t): r.plan_right
        for r in asof_join_pandas(
            ldf, rdf, on="t", by="k", right_cols=["plan"], direction="nearest"
        ).collect()
    }
    assert a == b


timed_rows_dup = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),  # key
        st.integers(min_value=0, max_value=20),  # time — duplicates likely
    ),
    min_size=1,
    max_size=20,
)


@SLOW
@given(left=timed_rows, right=timed_rows, tol=st.integers(min_value=0, max_value=30))
def test_asof_nearest_with_tolerance_equals_pandas(spark, left, right, tol):
    """ADVICE r4 (medium): nearest+tolerance must filter EACH direction's
    candidate by tolerance BEFORE choosing the side — when the nearer
    match is out of tolerance but the other direction has one in
    tolerance, pandas (and now asof_join) returns that match."""
    from duckdb_extension_kafquack_spark.operators.joins import (
        asof_join,
        asof_join_pandas,
    )

    ldf = spark.createDataFrame([(k, t) for (k, t) in left], "k long, t long")
    rdf = spark.createDataFrame(
        [(k, t, f"r{i}") for i, (k, t) in enumerate(right)], "k long, t long, plan string"
    )
    a = {
        (r.k, r.t): r.plan_right
        for r in asof_join(
            ldf, rdf, on="t", by="k", right_cols=["plan"],
            direction="nearest", tolerance=tol,
        ).collect()
    }
    b = {
        (r.k, r.t): r.plan_right
        for r in asof_join_pandas(
            ldf, rdf, on="t", by="k", right_cols=["plan"],
            direction="nearest", tolerance=tol,
        ).collect()
    }
    assert a == b


@settings(
    max_examples=2,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(left=timed_rows_dup, right=timed_rows_dup)
def test_asof_duplicate_times_deterministic(spark, left, right):
    """ADVICE r4 (low): duplicate right rows at the same (key, time) must
    resolve deterministically (tertiary __rid sort key).  Which duplicate
    wins is arbitrary-but-fixed — "input order" is not canonical after a
    shuffle (the pandas cogroup path is itself order-nondeterministic) —
    so assert (a) repeated runs agree exactly, (b) the matched TIME
    equals pandas merge_asof's (well-defined under duplicates), and
    (c) the carried value really belongs to some right row at that
    (key, time) — the struct carry can't mix rows."""
    from duckdb_extension_kafquack_spark.operators.joins import (
        asof_join,
        asof_join_pandas,
    )

    ldf = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(left)], "k long, t long, lid long"
    ).coalesce(1)
    rdf = spark.createDataFrame(
        [(k, t, f"r{i}", t) for i, (k, t) in enumerate(right)],
        "k long, t long, plan string, rt long",
    ).coalesce(1)
    right_at = {}
    for i, (k, t) in enumerate(right):
        right_at.setdefault((k, t), set()).add(f"r{i}")
    for direction in ("backward", "forward"):
        runs = [
            {
                (r.k, r.t, r.lid): (r.plan_right, r.rt_right)
                for r in asof_join(
                    ldf, rdf, on="t", by="k",
                    right_cols=["plan", "rt"], direction=direction,
                ).collect()
            }
            for _ in range(2)
        ]
        assert runs[0] == runs[1], direction
        pd_times = {
            (r.k, r.t, r.lid): r.rt_right
            for r in asof_join_pandas(
                ldf, rdf, on="t", by="k",
                right_cols=["plan", "rt"], direction=direction,
            ).collect()
        }
        for key, (plan, rt) in runs[0].items():
            assert rt == pd_times[key], (direction, key)
            if plan is not None:
                assert plan in right_at[(key[0], rt)], (direction, key)


def test_fold_dots_bit_identical_to_jvm_and_duckdb(spark):
    """The numpy fold-order kernel that licenses the round-5 float ANN
    rewrites: `_fold_dots` / `_fold_self` must reproduce the unrolled
    JVM sum AND DuckDB's list_dot_product BIT-FOR-BIT on adversarial
    random float32 data (mixed magnitudes force real rounding at every
    accumulation step, so any order divergence would show)."""
    import duckdb
    import numpy as np
    from pyspark.sql import functions as F

    from duckdb_extension_kafquack_spark.operators.similarity import (
        DIM,
        _dot_sql,
        _fold_dots,
        _fold_self,
    )

    rng = np.random.RandomState(7)
    # magnitudes spanning 12 orders + sign flips: worst case for
    # accumulation-order sensitivity
    mat64 = (
        rng.standard_normal((40, DIM)) * (10.0 ** rng.uniform(-6, 6, (40, DIM)))
    ).astype(np.float32)
    rows = [(i, [float(x) for x in mat64[i]]) for i in range(len(mat64))]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    pairs = [(i, (i * 7 + 3) % len(mat64)) for i in range(len(mat64))]
    cond = " OR ".join(f"(a.vec_id = {i} AND b.vec_id = {j})" for i, j in pairs)
    jvm = {
        (r.i, r.j): (r.dot, r.cos)
        for r in df.alias("a").crossJoin(df.alias("b")).filter(F.expr(cond)).selectExpr(
            "a.vec_id AS i",
            "b.vec_id AS j",
            f"({_dot_sql('a.embedding', 'b.embedding')}) AS dot",
            f"({_dot_sql('a.embedding', 'b.embedding')}) / "
            f"(sqrt({_dot_sql('a.embedding', 'a.embedding')}) * "
            f"sqrt({_dot_sql('b.embedding', 'b.embedding')})) AS cos",
        ).collect()
    }
    A = mat64.astype(np.float64)
    D = _fold_dots(A, A)
    N = np.sqrt(_fold_self(A))
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE v AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, {list(map(float, A[i]))}::DOUBLE[])" for i in range(len(A)))
        + ") t(vec_id, emb)"
    )
    duck = {
        (i, j): con.execute(
            "SELECT list_dot_product(a.emb, b.emb) FROM v a, v b "
            f"WHERE a.vec_id = {i} AND b.vec_id = {j}"
        ).fetchone()[0]
        for i, j in pairs
    }
    for i, j in pairs:
        assert D[i, j] == jvm[(i, j)][0], (i, j, "jvm dot")
        assert D[i, j] / (N[i] * N[j]) == jvm[(i, j)][1], (i, j, "jvm cos")
        assert D[i, j] == duck[(i, j)], (i, j, "duckdb dot")


doc_texts = st.lists(
    st.lists(
        st.sampled_from(["a", "b", "c", "dd", "eee"]),  # tiny vocab → collisions
        min_size=1,
        max_size=12,
    ).map(lambda ws: " ".join(ws)),
    min_size=1,
    max_size=12,
)


@SLOW
@given(texts=doc_texts)
def test_dup_span_coverage_bounds_and_exact_dup(spark, texts):
    """dup_frac ∈ [0,1] always; an exact duplicate pair has coverage 1
    on both members (every position's shingle exists in ≥2 docs)."""
    from duckdb_extension_kafquack_spark.operators.dedup import dup_span_coverage

    rows = [(i, t) for i, t in enumerate(texts)]
    # force one exact duplicate pair
    rows.append((len(rows), texts[0]))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in dup_span_coverage(df).collect()}
    for r in out.values():
        assert 0 <= r.dup_frac <= 1
        assert r.dup_shingles <= r.total_shingles
    assert out[0].dup_frac == 1.0
    assert out[len(rows) - 1].dup_frac == 1.0


@SLOW
@given(
    docs=st.lists(
        st.lists(st.text(alphabet="ab", min_size=1, max_size=2), min_size=0, max_size=8),
        min_size=2,
        max_size=8,
    )
)
def test_containment_prefix_filter_is_lossless(spark, docs):
    """For ANY corpus: the prefix-filtered containment join returns
    EXACTLY the ground-truth pair set (brute-force shingle containment
    in Python), with exact division values — the pigeonhole bound loses
    nothing and the filter admits nothing the verify misses."""
    from duckdb_extension_kafquack_spark.operators.dedup import (
        CONTAINMENT_THRESHOLD,
        containment_pairs,
    )

    texts = [" ".join(toks) for toks in docs]

    def shingles(text):
        toks = [t for t in text.split(" ") if t != ""]
        if len(toks) >= 3:
            return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}
        return {" ".join(toks)}

    sets = [shingles(t) for t in texts]
    truth = {}
    for a, sa in enumerate(sets):
        for b, sb in enumerate(sets):
            if a != b and len(sa & sb) / len(sa) >= CONTAINMENT_THRESHOLD:
                truth[(a, b)] = len(sa & sb) / len(sa)

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        (r.doc_sub, r.doc_sup): r.containment for r in containment_pairs(df).collect()
    }
    assert got == truth


@SLOW
@given(
    data=st.lists(
        st.tuples(
            st.sampled_from(["s0", "s1", "s2"]),
            st.text(alphabet="abcdef", min_size=1, max_size=5),
        ),
        min_size=1,
        max_size=120,
    )
)
def test_kmv_bottomk_exact_per_source(spark, data):
    """For ANY keyed stream (duplicates welcome, any partitioning): the
    per-source KMV sketch is EXACTLY the k smallest distinct md5-derived
    hashes — the mapInPandas partial + two-level merge tree loses
    nothing (pigeonhole: a global bottom-k member is in its own
    partition's bottom-k)."""
    import hashlib

    from duckdb_extension_kafquack_spark.operators.sketch import KMV_K, kmv_bottomk

    def h64(t):
        return int(hashlib.md5(t.encode()).hexdigest()[:15], 16)

    truth = {}
    for src, tok in data:
        truth.setdefault(src, set()).add(h64(tok))
    truth = {s: sorted(v)[:KMV_K] for s, v in truth.items()}

    df = spark.createDataFrame(data, "source string, tok string").select(
        "source", F.expr("CAST(conv(substring(md5(tok), 1, 15), 16, 10) AS BIGINT)").alias("h")
    )
    got = {r.source: list(r.sk) for r in kmv_bottomk(df).collect()}
    assert got == truth


def test_kmv_pairwise_jaccard_tracks_exact_overlap():
    """The sketch-based pairwise Jaccard/union estimates must stay
    within the k=64 theory bounds of the EXACT values on the fixture
    (deterministic data + deterministic hash ⇒ fixed numbers; the
    bounds are ~2× the measured error, far below what a broken
    estimator — wrong ρ, off-by-one prefix, biased filter — produces).
    Cross-engine parity is the oracle's job; this pins the MATH."""
    import duckdb

    from duckdb_extension_kafquack_spark.functions.hashing import duck_hash64
    from duckdb_extension_kafquack_spark.operators.dedup import _DUCK_SHINGLES
    from duckdb_extension_kafquack_spark.operators.sketch import _duck_kmv_pairwise_sql

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM '/root/testdata/sf0.001/documents.parquet'"
    )
    est = con.execute(_duck_kmv_pairwise_sql()).fetchdf()
    dh = f"""
tokd AS (SELECT source, list_filter(string_split(text,' '), t -> t <> '') AS toks
         FROM documents),
dh AS (SELECT DISTINCT source, {duck_hash64('s.tok')} AS h
       FROM tokd, unnest({_DUCK_SHINGLES}) AS s(tok))"""
    sizes = dict(
        con.execute(f"WITH {dh} SELECT source, COUNT(*) FROM dh GROUP BY 1").fetchall()
    )
    inter = {
        (sa, sb): i
        for sa, sb, i in con.execute(
            f"""WITH {dh} SELECT a.source, b.source, COUNT(*)
                FROM dh a JOIN dh b ON a.source < b.source AND a.h = b.h
                GROUP BY 1, 2"""
        ).fetchall()
    }
    assert len(est) > 0
    for r in est.itertuples():
        i = inter.get((r.source_a, r.source_b), 0)
        u = sizes[r.source_a] + sizes[r.source_b] - i
        assert abs(r.jaccard_est - i / u) <= 0.15, (r.source_a, r.source_b)
        assert abs(r.union_est - u) / u <= 0.40, (r.source_a, r.source_b)


@SLOW
@given(
    members=st.sets(st.text(alphabet="abcdef", min_size=1, max_size=6), min_size=1, max_size=30),
    probes=st.sets(st.text(alphabet="abcdef", min_size=1, max_size=6), min_size=1, max_size=30),
)
def test_bloom_never_false_negative(spark, members, probes):
    """For ANY member/probe sets: every member probe is positive, and
    the packed-bitmap probe gives verdicts IDENTICAL to the relational
    probe (same hash family, different physical shape)."""
    from duckdb_extension_kafquack_spark.operators.sketch import (
        bloom_bitmap_words,
        bloom_build,
        bloom_probe,
        bloom_probe_bitmap,
    )

    mdf = spark.createDataFrame([(t,) for t in members], "tok string")
    pdf = spark.createDataFrame([(t,) for t in probes | members], "tok string")
    out = {r.tok: r.bloom_positive for r in bloom_probe(bloom_build(mdf), pdf).collect()}
    assert all(out[t] for t in members)
    bm = {
        r.tok: r.bloom_positive
        for r in bloom_probe_bitmap(bloom_bitmap_words(mdf), pdf).collect()
    }
    assert bm == out


@SLOW
@given(texts=doc_texts)
def test_minhash_estimate_bounds(spark, texts):
    """Calibration output on ARBITRARY corpora: sig_matches ∈
    [0, NUM_HASHES], est and exact Jaccard ∈ [0, 1], and the planted
    exact-duplicate pair is an LSH candidate with est = exact = 1."""
    from duckdb_extension_kafquack_spark.operators.dedup import (
        NUM_HASHES,
        minhash_calibration,
    )

    dup_id = len(texts)
    rows = [(i, t) for i, t in enumerate(texts)] + [(dup_id, texts[0])]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = minhash_calibration(df).collect()
    for r in out:
        assert 0 <= r.sig_matches <= NUM_HASHES
        assert 0.0 <= r.est_jaccard <= 1.0
        assert 0.0 <= r.jaccard <= 1.0
    # identical docs always collide in every band → candidate with 1.0/1.0
    dup_rows = [
        r for r in out
        if (r.doc1 == 0 and r.doc2 == dup_id)
        or (texts[r.doc1] == texts[0] and r.doc2 == dup_id)
    ]
    assert dup_rows
    assert all(r.sig_matches == NUM_HASHES and r.jaccard == 1.0 for r in dup_rows)


@SLOW
@given(
    keys_a=st.sets(st.text(alphabet="abcdefgh", min_size=1, max_size=8), min_size=1, max_size=40),
    keys_b=st.sets(st.text(alphabet="abcdefgh", min_size=1, max_size=8), min_size=1, max_size=40),
)
def test_hll_merge_equals_union_sketch(spark, keys_a, keys_b):
    """For ANY two key sets: per-register max of the two sketches is
    identical to the sketch of the union (HLL merge algebra)."""
    from duckdb_extension_kafquack_spark.operators.sketch import _hll_registers

    df_a = spark.createDataFrame([(t,) for t in keys_a], "tok string")
    df_b = spark.createDataFrame([(t,) for t in keys_b], "tok string")
    df_u = spark.createDataFrame([(t,) for t in keys_a | keys_b], "tok string")
    merged = (
        _hll_registers(df_a)
        .unionByName(_hll_registers(df_b))
        .groupBy("bucket")
        .agg(F.max("mrho").alias("mrho"))
    )
    direct = _hll_registers(df_u)
    m = {r.bucket: r.mrho for r in merged.collect()}
    d = {r.bucket: r.mrho for r in direct.collect()}
    assert m == d


@SLOW
@given(texts=doc_texts)
def test_bigram_surprisal_bounds(spark, texts):
    """inv_p = c(w1)/c(w1,w2) ≥ 1 by construction (a bigram count never
    exceeds its prefix count), so every mean/max ≥ 1; n_bigrams is
    len(toks)-1 for docs with ≥ 2 tokens."""
    from duckdb_extension_kafquack_spark.operators.text import bigram_surprisal_scores

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in bigram_surprisal_scores(df).collect()}
    for i, t in rows:
        n = len([w for w in t.split(" ") if w])
        if n < 2:
            assert i not in out
            continue
        r = out[i]
        assert r.n_bigrams == n - 1
        assert r.mean_bigram_surprisal >= 1.0
        assert r.max_bigram_surprisal >= r.mean_bigram_surprisal - 1e-6


FAST = settings(max_examples=200, deadline=None)


@FAST
@given(
    rg_sizes=st.lists(st.integers(min_value=1, max_value=50), min_size=1, max_size=12),
    lo_frac=st.floats(min_value=0.0, max_value=1.0),
    hi_frac=st.floats(min_value=0.0, max_value=1.0),
    n_splits=st.integers(min_value=1, max_value=8),
    min_rows=st.integers(min_value=1, max_value=100),
)
def test_range_splits_cover_exactly(rg_sizes, lo_frac, hi_frac, n_splits, min_rows):
    """The stream/batch split math (`_range_splits`): for ANY row-group
    layout, ANY [lo, hi) offset range and ANY row floor, the planned
    splits are disjoint, ordered, cover the clamped range exactly, each
    holds at least the floor's rows unless it is the only one, and each
    split's row-group span contains its index range — no row can be
    read twice or dropped by a micro-batch.  Pure math, no Spark."""
    from duckdb_extension_kafquack_spark.sources.datasource import _range_splits

    starts = [0]
    for n in rg_sizes:
        starts.append(starts[-1] + n)
    total = starts[-1]
    lo = int(lo_frac * total)
    hi = int(hi_frac * total)
    splits = _range_splits("p", "t", lo, hi, n_splits, starts, min_rows)
    clo, chi = max(0, lo), min(hi, total)
    if chi <= clo:
        assert splits == []
        return
    bounds = [(s.start, s.end) for s in splits]
    assert bounds == sorted(bounds)
    assert bounds[0][0] == clo and bounds[-1][1] == chi
    assert all(a[1] == b[0] for a, b in zip(bounds, bounds[1:]))
    assert len(splits) <= n_splits
    assert len(splits) == 1 or all(s.end - s.start >= min_rows for s in splits)
    for s in splits:
        # the row-group span covers the index range; offsets consistent
        assert starts[s.rg_start] <= s.start
        assert starts[s.rg_end] >= s.end
        assert s.rg_offset == starts[s.rg_start]


texts_for_entropy = st.lists(
    st.lists(
        st.sampled_from(["a", "b", "c", "dd", "eee"]),
        min_size=1,
        max_size=30,
    ).map(" ".join),
    min_size=1,
    max_size=8,
)


@SLOW
@given(texts=texts_for_entropy)
def test_token_entropy_matches_reference_and_bounds(spark, texts):
    """The sorted run-length HOF entropy equals a direct Python
    computation (to the same rounding) and respects 0 ≤ H ≤ ln(n)."""
    import collections

    from duckdb_extension_kafquack_spark.operators.text import token_entropy

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {r.doc_id: (r.n_tokens, r.entropy_r) for r in token_entropy(docs).collect()}
    for i, t in enumerate(texts):
        toks = [w for w in t.split(" ") if w]
        n = len(toks)
        cnt = collections.Counter(toks)
        ref = round(math.log(n) - sum(c * math.log(c) for c in cnt.values()) / n, 6)
        n_got, h_got = got[i]
        assert n_got == n
        assert abs(h_got - ref) <= 1e-6
        # entropy_r is rounded@6, so the max-entropy case can sit up to
        # half an ulp-of-rounding ABOVE ln(n) (e.g. ln(5)→1.609438)
        assert -5e-7 <= h_got <= math.log(n) + 5e-7


def test_round6b_ops_handle_empty_and_degenerate_input(spark):
    """The round-6b text/dedup operators flow empty tables through, and
    the HOF shingle/run-length folds never emit bogus values on docs
    shorter than their window."""
    from duckdb_extension_kafquack_spark.operators.dedup import (
        cross_source_dup_matrix,
    )
    from duckdb_extension_kafquack_spark.operators.text import (
        boilerplate_phrases,
        source_token_kl,
        token_entropy,
    )

    empty = spark.createDataFrame(
        [], "doc_id long, text string, lang string, source string, n_chars long"
    )
    assert boilerplate_phrases(empty).count() == 0
    assert source_token_kl(empty).count() == 0
    assert token_entropy(empty).count() == 0
    assert cross_source_dup_matrix(empty).count() == 0

    short = spark.createDataFrame(
        [
            (0, "a b c", "en", "s0", 5),
            (1, "x", "en", "s1", 1),
            (2, "", "en", "s0", 0),
            (3, "   ", "en", "s1", 3),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    # no doc has a 5-gram -> no phrases at all
    assert boilerplate_phrases(short).count() == 0
    # zero-token docs (empty / whitespace text) are OMITTED, not a crash
    # (sequence(1, 0) is descending [1, 0]; its index-0 probe would throw)
    ent = {r.doc_id: r for r in token_entropy(short).collect()}
    assert set(ent) == {0, 1}
    # single-token doc: H = 0 exactly, n = 1
    assert ent[1].n_tokens == 1 and ent[1].entropy_r == 0.0
    assert ent[0].n_tokens == 3 and abs(ent[0].entropy_r - round(math.log(3), 6)) < 1e-9
    # a single-source corpus has KL(source||corpus) = 0 by definition
    one_src = spark.createDataFrame(
        [(0, "a b b", "en", "s0", 5), (1, "a c", "en", "s0", 3)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    kl = source_token_kl(one_src).collect()
    assert len(kl) == 1 and kl[0].kl_r == 0.0 and kl[0].n_tokens == 5


@FAST
@given(
    hashes=st.lists(
        st.integers(min_value=0, max_value=2**60 - 1), min_size=0, max_size=200
    ),
    cuts=st.lists(st.integers(min_value=0, max_value=200), max_size=5),
)
def test_streaming_kmv_update_converges_to_batch(hashes, cuts):
    """The streaming KMV GroupState update, folded over ANY micro-batch
    split of the stream, equals the batch bottom-k — and merging every
    intermediate emission with the final sketch is a no-op (the
    soundness claim behind merge-folding update-mode output rows)."""
    import pandas as pd

    from duckdb_extension_kafquack_spark.operators.sketch import KMV_K
    from duckdb_extension_kafquack_spark.streaming.state import _update_kmv

    class FakeState:
        exists = False
        get = None

        def update(self, v):
            self.exists, self.get = True, v

    bounds = sorted({min(c, len(hashes)) for c in cuts} | {0, len(hashes)})
    batches = [hashes[a:b] for a, b in zip(bounds, bounds[1:])] or [[]]
    state, emitted = FakeState(), []
    for b in batches:
        out = list(
            _update_kmv(
                ("s0",), iter([pd.DataFrame({"h": pd.Series(b, dtype="int64")})]), state
            )
        )
        emitted.append(list(out[0]["sk"][0]))
    final = emitted[-1]
    assert final == sorted(set(hashes))[:KMV_K]
    # merge-fold soundness: union of ALL emissions re-bottom-k'd == final
    merged = sorted({h for e in emitted for h in e})[:KMV_K]
    assert merged == final


@SLOW
@given(
    edges=st.sets(
        st.tuples(st.integers(1, 5), st.integers(1, 8)),
        min_size=1,
        max_size=20,
    )
)
def test_engagement_pagerank_matches_python_reference(spark, edges):
    """For ANY bipartite engagement graph: the Spark integer fixed-point
    power iteration equals a 15-line pure-Python fold of the SAME
    recurrence.  The DuckDB oracle shares the formula with the Spark
    plan, so the hash match can't catch a shared-formula bug — this
    pins the recurrence against an independent implementation
    (degrees, DIV floors, damping, iteration count, tie-broken
    ranking)."""
    from duckdb_extension_kafquack_spark.operators.events import (
        PR_BASE,
        PR_DDEN,
        PR_DNUM,
        PR_ITERS,
        PR_SCALE,
        engagement_pagerank,
    )

    docs_of: dict[int, list[int]] = {}
    users_of: dict[int, list[int]] = {}
    for u, d in edges:
        docs_of.setdefault(u, []).append(d)
        users_of.setdefault(d, []).append(u)
    ddeg = {d: len(us) for d, us in users_of.items()}
    udeg = {u: len(ds) for u, ds in docs_of.items()}
    r = {d: PR_SCALE for d in users_of}
    for _ in range(PR_ITERS):
        us = {
            u: sum(r[d] // ddeg[d] for d in ds) for u, ds in docs_of.items()
        }
        r = {
            d: PR_BASE + (PR_DNUM * sum(us[u] // udeg[u] for u in uss)) // PR_DDEN
            for d, uss in users_of.items()
        }

    ev_rows = [
        (i, "2024-01-01 00:00:00", u, "view", 1.0, '{"k": %d}' % d)
        for i, (u, d) in enumerate(sorted(edges))
    ]
    events = spark.createDataFrame(
        ev_rows,
        "event_id bigint, ts string, user_id bigint, event_type string, "
        "value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    docs = spark.createDataFrame(
        [(d, "en", "s") for d in sorted(users_of)],
        "doc_id bigint, lang string, source string",
    )
    got = {
        row.doc_id: (row.pr_micro, row.n_users)
        for row in engagement_pagerank(events, docs).collect()
    }
    assert got == {d: (r[d], ddeg[d]) for d in users_of}


@SLOW
@given(
    edges=st.sets(
        st.tuples(st.integers(1, 5), st.integers(1, 8), st.booleans()),
        min_size=1,
        max_size=20,
    ),
    null_user_purchase=st.one_of(st.none(), st.integers(1, 8)),
)
@example(edges={(1, 1, True)}, null_user_purchase=2)
def test_seeded_trust_rank_matches_python_reference(
    spark, edges, null_user_purchase
):
    """For ANY engagement graph + purchase pattern: the seeded power
    iteration equals a 20-line pure-Python fold of the SAME integer
    fixed-point recurrence (the seeded twin of
    test_engagement_pagerank_matches_python_reference) — pinning the
    per-round seed base term, degrees, DIV floors, damping, and the
    is_seed output column against an independent implementation,
    whatever plan shape implements them (r13 measured the per-round
    LEFT JOIN against a union-into-aggregate fold; this test held for
    both).  The NULL-user purchase case pins the seed DOMAIN: such an
    event reaches the raw seed set but its edge drops out of the
    equi-joined edge relation, so the doc must NOT appear in the
    result unless another (non-NULL) user engages it — while its ref
    row still counts toward the doc's degree, exactly as the equi-join
    shape has always computed it."""
    from duckdb_extension_kafquack_spark.operators.events import (
        PR_BASE,
        PR_DDEN,
        PR_DNUM,
        PR_ITERS,
        PR_SCALE,
        seeded_trust_rank,
    )

    ev = [(u, d, "purchase" if p else "view") for (u, d, p) in sorted(edges)]
    if null_user_purchase is not None:
        ev.append((None, null_user_purchase, "purchase"))

    # ref: distinct (user, doc) incl. NULL users; doc_deg counts ALL
    # ref rows for the doc, but the edge relation equi-joins on user_id
    # so NULL-user rows drop out of e (and the doc leaves the rank
    # domain unless another, non-NULL user engages it)
    ref = {(u, d) for (u, d, _t) in ev}
    ddeg0: dict[int, int] = {}
    udeg: dict = {}
    for u, d in ref:
        ddeg0[d] = ddeg0.get(d, 0) + 1
        udeg[u] = udeg.get(u, 0) + 1
    docs_of: dict = {}
    users_of: dict[int, list] = {}
    for u, d in ref:
        if u is None:
            continue
        docs_of.setdefault(u, []).append(d)
        users_of.setdefault(d, []).append(u)
    seeds = {d for (_u, d, t) in ev if t == "purchase"} & set(users_of)
    r = {d: (PR_SCALE if d in seeds else 0) for d in users_of}
    for _ in range(PR_ITERS):
        us = {u: sum(r[d] // ddeg0[d] for d in ds) for u, ds in docs_of.items()}
        r = {
            d: (PR_BASE if d in seeds else 0)
            + (PR_DNUM * sum(us[u] // udeg[u] for u in uss)) // PR_DDEN
            for d, uss in users_of.items()
        }

    ev_rows = [
        (i, "2024-01-01 00:00:00", u, t, 1.0, '{"k": %d}' % d)
        for i, (u, d, t) in enumerate(ev)
    ]
    events = spark.createDataFrame(
        ev_rows,
        "event_id bigint, ts string, user_id bigint, event_type string, "
        "value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    docs = spark.createDataFrame(
        [(d, "en", "s") for d in sorted(ddeg0)],
        "doc_id bigint, lang string, source string",
    )
    got = {
        row.doc_id: (row.pr_micro, row.is_seed)
        for row in seeded_trust_rank(events, docs).collect()
    }
    assert got == {d: (r[d], 1 if d in seeds else 0) for d in users_of}


def test_pagerank_lineage_guard_bounds_plan_at_high_iters(spark):
    """r8-verdict item 6: past PR_CHECKPOINT_THRESHOLD iterations the
    power loop must truncate rank lineage (lazy localCheckpoint every
    PR_CHECKPOINT_EVERY rounds) so production iteration counts keep
    plan-analysis cost bounded — while the all-integer values stay
    bit-identical to the unguarded recurrence (checkpointing swaps
    lineage for materialized partitions, nothing else).  At the oracled
    3 iterations the guard must NOT fire (plan free of RDD scans, so
    the driver-gate plans are unchanged)."""
    from duckdb_extension_kafquack_spark.operators.events import (
        PR_BASE,
        PR_DDEN,
        PR_DNUM,
        PR_SCALE,
        engagement_pagerank,
    )

    edges = sorted({(1, 1), (1, 2), (2, 2), (2, 3), (3, 1), (3, 3), (4, 2), (4, 4)})
    docs_of: dict[int, list[int]] = {}
    users_of: dict[int, list[int]] = {}
    for u, d in edges:
        docs_of.setdefault(u, []).append(d)
        users_of.setdefault(d, []).append(u)
    ddeg = {d: len(us) for d, us in users_of.items()}
    udeg = {u: len(ds) for u, ds in docs_of.items()}
    ITERS = 12
    r = {d: PR_SCALE for d in users_of}
    for _ in range(ITERS):
        us = {u: sum(r[d] // ddeg[d] for d in ds) for u, ds in docs_of.items()}
        r = {
            d: PR_BASE + (PR_DNUM * sum(us[u] // udeg[u] for u in uss)) // PR_DDEN
            for d, uss in users_of.items()
        }

    ev_rows = [
        (i, "2024-01-01 00:00:00", u, "view", 1.0, '{"k": %d}' % d)
        for i, (u, d) in enumerate(edges)
    ]
    events = spark.createDataFrame(
        ev_rows,
        "event_id bigint, ts string, user_id bigint, event_type string, "
        "value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    docs = spark.createDataFrame(
        [(d, "en", "s") for d in sorted(users_of)],
        "doc_id bigint, lang string, source string",
    )

    import duckdb_extension_kafquack_spark.operators.events as ev_mod

    guarded = engagement_pagerank(events, docs, iters=ITERS)
    old_thresh = ev_mod.PR_CHECKPOINT_THRESHOLD
    ev_mod.PR_CHECKPOINT_THRESHOLD = 10**9  # disable the guard
    try:
        unguarded = engagement_pagerank(events, docs, iters=ITERS)
    finally:
        ev_mod.PR_CHECKPOINT_THRESHOLD = old_thresh
    pg = guarded._jdf.queryExecution().analyzed().toString()
    pu = unguarded._jdf.queryExecution().analyzed().toString()
    # lineage truncated: the guarded plan keeps only the post-checkpoint
    # tail (≤ PR_CHECKPOINT_EVERY rounds of join lineage, each round
    # nesting the edge relation's own joins) while the unguarded plan
    # nests all 12 rounds — at least a 2× join-node reduction here
    assert pg.count("Join") * 2 <= pu.count("Join")
    # values are checkpoint-invariant AND match the pure-Python fold of
    # the same integer recurrence at 12 iterations
    got = {row.doc_id: row.pr_micro for row in guarded.collect()}
    assert got == r
    assert {row.doc_id: row.pr_micro for row in unguarded.collect()} == r

    # the oracled iteration count sits below the threshold, so the
    # driver-gate queries can never pick up a checkpoint node
    from duckdb_extension_kafquack_spark.operators.events import PR_ITERS

    assert PR_ITERS <= ev_mod.PR_CHECKPOINT_THRESHOLD


def test_pr_iterate_concurrent_builds_do_not_race(spark):
    """r14 (r13 verdict item 6): `_pr_iterate` used four PROCESS-GLOBAL
    temp-view names — eager resolution made sequential builds safe, but
    two rank loops built concurrently in one session could race on view
    replacement (loop A registers its rank view, loop B overwrites it,
    loop A's next chunk resolves B's ranks).  View names are now unique
    per invocation (and dropped on exit), so interleaved multi-chunk
    builds must produce exactly the sequentially-built values."""
    from concurrent.futures import ThreadPoolExecutor

    from duckdb_extension_kafquack_spark.operators.events import _pr_iterate

    ITERS = 12  # > PR_CHECKPOINT_THRESHOLD → multiple chunks per build

    def graph(shift: int):
        raw = [(1, 10 + shift), (1, 20 + shift), (2, 20 + shift),
               (2, 30 + shift), (3, 30 + shift), (3, 10 + shift)]
        ddeg = {}
        udeg = {}
        for u, d in raw:
            ddeg[d] = ddeg.get(d, 0) + 1
            udeg[u] = udeg.get(u, 0) + 1
        e = spark.createDataFrame(
            [(u, d, ddeg[d], udeg[u]) for u, d in raw],
            "user_id bigint, doc_id bigint, doc_deg bigint, user_deg bigint",
        )
        dd = spark.createDataFrame(
            sorted(ddeg.items()), "doc_id bigint, doc_deg bigint"
        )
        return e, dd

    g1, g2 = graph(0), graph(100)
    want1 = {r.doc_id: r.pr for r in _pr_iterate(spark, *g1, ITERS).collect()}
    want2 = {r.doc_id: r.pr for r in _pr_iterate(spark, *g2, ITERS).collect()}

    def build_and_collect(g):
        return {r.doc_id: r.pr for r in _pr_iterate(spark, *g, ITERS).collect()}

    with ThreadPoolExecutor(max_workers=2) as pool:
        f1 = pool.submit(build_and_collect, g1)
        f2 = pool.submit(build_and_collect, g2)
        assert f1.result() == want1
        assert f2.result() == want2


@FAST
@given(
    docs=st.lists(st.integers(1, 6), min_size=0, max_size=40),
    cuts=st.lists(st.integers(min_value=0, max_value=40), max_size=5),
)
def test_streaming_transitions_stitch_across_any_batch_split(docs, cuts):
    """For ANY per-user journey and ANY event-time-ordered micro-batch
    split of it: the GroupState update's summed emissions equal the
    batch pair counts — including the transition that SPANS each batch
    boundary (the stitch the state exists for; a plain per-batch lead
    would drop one pair per cut)."""
    import pandas as pd

    from duckdb_extension_kafquack_spark.streaming.state import (
        _update_doc_transitions,
    )

    class FakeState:
        exists = False
        get = None

        def update(self, v):
            self.exists, self.get = True, v

    events = [(i * 10, i, d) for i, d in enumerate(docs)]  # (ts_us, event_id, doc)
    want: dict[tuple[int, int], int] = {}
    for (_, _, a), (_, _, b) in zip(events, events[1:]):
        if a != b:
            want[(a, b)] = want.get((a, b), 0) + 1

    bounds = sorted({min(c, len(events)) for c in cuts} | {0, len(events)})
    state, got = FakeState(), {}
    for lo, hi in zip(bounds, bounds[1:]):
        batch = events[lo:hi]
        out = list(
            _update_doc_transitions(
                (7,),
                iter(
                    [
                        pd.DataFrame(
                            {
                                "ts_us": pd.Series([e[0] for e in batch], dtype="int64"),
                                "event_id": pd.Series([e[1] for e in batch], dtype="int64"),
                                "doc_id": pd.Series([e[2] for e in batch], dtype="int64"),
                            }
                        )
                    ]
                ),
                state,
            )
        )
        for pdf in out:
            for a, b, n in zip(pdf["doc_from"], pdf["doc_to"], pdf["n"]):
                got[(int(a), int(b))] = got.get((int(a), int(b)), 0) + int(n)
    assert got == want


def test_streaming_transitions_rejects_out_of_order_arrival():
    """The cross-batch stitch's precondition (per-user event-time-ordered
    delivery) is ENFORCED: a batch containing an event older than the
    carried state must raise, not silently mis-stitch — update-mode
    emissions cannot be retracted, so a harness ordering drift would
    otherwise corrupt counts with no detection."""
    import pandas as pd
    import pytest

    from duckdb_extension_kafquack_spark.streaming.state import (
        _update_doc_transitions,
    )

    class FakeState:
        exists = False
        get = None

        def update(self, v):
            self.exists, self.get = True, v

    def batch(events):
        return iter(
            [
                pd.DataFrame(
                    {
                        "ts_us": pd.Series([e[0] for e in events], dtype="int64"),
                        "event_id": pd.Series([e[1] for e in events], dtype="int64"),
                        "doc_id": pd.Series([e[2] for e in events], dtype="int64"),
                    }
                )
            ]
        )

    state = FakeState()
    list(_update_doc_transitions((7,), batch([(10, 0, 1), (20, 1, 2)]), state))
    assert state.exists and tuple(state.get)[:2] == (20, 1)
    # ts 15 < carried ts 20 → out of order → loud failure
    with pytest.raises(ValueError, match="out-of-order"):
        list(_update_doc_transitions((7,), batch([(15, 2, 3)]), state))
    # equal-or-later arrival still works (same ts, later event_id)
    out = list(_update_doc_transitions((7,), batch([(20, 2, 3)]), state))
    got = {
        (int(a), int(b)): int(n)
        for pdf in out
        for a, b, n in zip(pdf["doc_from"], pdf["doc_to"], pdf["n"])
    }
    assert got == {(2, 3): 1}


def test_semdedup_knobs_growth_law():
    """Corpus-derived SemDeDup knobs (r10 verdict item 3): below ~131k
    vectors they floor at the fixture constants the oracles hard-code;
    beyond that, cells grow linearly with the corpus (expected cell
    bounded by the target) and one tile never exceeds the target side,
    so tile work is bounded at any corpus size."""
    from duckdb_extension_kafquack_spark.operators.similarity import (
        IVF_CENTROIDS,
        SEMDEDUP_BLOCKS,
        SEMDEDUP_TARGET_CELL,
        SEMDEDUP_TARGET_TILE,
        semdedup_knobs,
    )

    # fixture fixpoint: every oracle-checked SF (100 / 1k / 10k / 100k
    # vectors) resolves to exactly the oracle's constants
    for n in (100, 1_000, 10_000, 100_000):
        assert semdedup_knobs(n) == (IVF_CENTROIDS, SEMDEDUP_BLOCKS)
    # growth: cells scale with the corpus, expected cell stays bounded,
    # and a tile side never exceeds the target
    prev_cells = 0
    for n in (200_000, 1_000_000, 10_000_000, 1_000_000_000):
        cells, blocks = semdedup_knobs(n)
        assert cells >= prev_cells
        prev_cells = cells
        expected_cell = -(-n // cells)
        assert expected_cell <= SEMDEDUP_TARGET_CELL
        assert -(-expected_cell // blocks) <= SEMDEDUP_TARGET_TILE


@settings(deadline=None, max_examples=60)
@given(
    batches=st.lists(
        st.lists(
            st.fixed_dictionaries(
                {
                    "source": st.sampled_from(["web", "wiki", "code"]),
                    "n_batch": st.integers(0, 50),
                    "n_exact_dup": st.integers(0, 50),
                    "n_near_dup": st.integers(0, 50),
                    "n_unique": st.integers(0, 50),
                }
            ),
            unique_by=lambda r: r["source"],
            max_size=3,
        ),
        max_size=8,
    ),
    repeats=st.lists(st.integers(1, 3), min_size=8, max_size=8),
    stale_replays=st.lists(st.integers(0, 7), max_size=4),
)
@example(batches=[], repeats=[1, 1, 1, 1, 1, 1, 1, 1], stale_replays=[])
def test_batch_partial_folder_replay_and_memory_invariants(
    batches, repeats, stale_replays
):
    """`_BatchPartialFolder` (r11 verdict item 4) must (a) total exactly
    one copy of every batch under at-least-once delivery — the newest
    batch_id may be redelivered any number of times (WAL-uncommitted
    replay), and an id older than the latest is already folded and must
    be dropped; (b) hold O(sources) driver state regardless of how many
    batches streamed through (the defect the class replaces: one dict
    entry per batch forever)."""
    from duckdb_extension_kafquack_spark.streaming.windows import (
        _BatchPartialFolder,
        _fold_incr_partial,
    )

    folder = _BatchPartialFolder(_fold_incr_partial)
    for bid, rows in enumerate(batches):
        for _ in range(repeats[bid]):  # replay of the newest batch_id
            folder.add(bid, rows)
        # memory invariant: folded state never exceeds the source space,
        # and the only raw partial held is the latest batch's
        assert len(folder._done) <= 3
        assert folder._latest is None or folder._latest[0] == bid
    for sid in stale_replays:  # pre-latest ids redelivered out of order
        if sid < len(batches) - 1:
            folder.add(sid, batches[sid])
    expected: dict[str, list] = {}
    for rows in batches:
        for r in rows:
            _fold_incr_partial(expected, r)
    assert folder.totals() == expected


def test_lsh_knobs_growth_law():
    """Corpus-derived LSH banding (r11 verdict item 5): floors at the
    oracle-mirrored constants for every oracle-checked SF and the 64×
    probe replicas; beyond the floor the S-curve midpoint stays at the
    family's operating point while recall above it rises and
    sub-threshold candidate probability falls monotonically."""
    from duckdb_extension_kafquack_spark.operators.dedup import (
        BANDS,
        LSH_KNOB_FLOOR_DOCS,
        NGRAM_BANDS,
        NGRAM_HASHES,
        NUM_HASHES,
        ROWS_PER_BAND,
        minhash_knobs,
        ngram_knobs,
    )

    # fixpoint: every fixture scale (sf0.001 ≈ 600 docs → sf0.1 ≈ 60k)
    # AND the 64× probe replicas (~3.84M) resolve to the constants the
    # DuckDB oracles mirror
    for n in (600, 6_000, 60_000, 3_840_000, LSH_KNOB_FLOOR_DOCS):
        assert minhash_knobs(n) == (NUM_HASHES, BANDS, ROWS_PER_BAND)
        assert ngram_knobs(n) == (NGRAM_HASHES, NGRAM_BANDS, NGRAM_HASHES // NGRAM_BANDS)

    def curve(s, r, b):
        return 1.0 - (1.0 - s**r) ** b

    for knobs, r0, b0 in (
        (minhash_knobs, ROWS_PER_BAND, BANDS),
        (ngram_knobs, NGRAM_HASHES // NGRAM_BANDS, NGRAM_BANDS),
    ):
        mid0 = (1.0 / b0) ** (1.0 / r0)
        prev_r, prev_hashes = 0, 0
        prev_recall, prev_fp = 0.0, 1.0
        for n in (5e6, 1e8, 1e9, 1e11, 1e13):
            h, b, r = knobs(int(n))
            assert h == r * b
            # monotone sharpening, bounded signature-cost growth
            assert r >= max(prev_r, r0) and h >= prev_hashes
            # midpoint pinned at the family's operating point
            assert abs((1.0 / b) ** (1.0 / r) - mid0) <= 0.04
            # recall above the midpoint never degrades as knobs sharpen
            recall = curve(min(mid0 + 0.15, 0.99), r, b)
            assert recall >= prev_recall - 1e-12 and recall >= 0.85
            # sub-threshold candidate probability falls with sharpening
            fp = curve(max(mid0 - 0.2, 0.05), r, b)
            assert fp <= prev_fp + 1e-12
            prev_r, prev_hashes, prev_recall, prev_fp = r, h, recall, fp
        # the 100 TB-ish point must actually have sharpened
        assert prev_r > r0


def test_documents_rowcount_matches_fixture():
    from duckdb_extension_kafquack_spark.operators.dedup import documents_rowcount

    n = documents_rowcount("/root/testdata/sf0.01")
    assert n > 0
