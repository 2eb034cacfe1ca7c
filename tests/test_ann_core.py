"""The five ANN top-k entry points share one kernel (`_ann_topk`) and
one int8 quantizer-state memo (`_SQ_STATS_CACHE`): pin their common
edge behaviour and the memo sharing."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from duckdb_extension_kafquack_spark.operators import similarity as sim

ENTRY_POINTS = {
    "cosine_topk": "cos_sim",
    "ivf_topk": "cos_sim",
    "int8_topk": "cos_q",
    "int8_ivf_topk": "cos_q",
    "int8_ivf_from_store": "cos_q",
}
INT8_ENTRY_POINTS = [n for n, col in ENTRY_POINTS.items() if col == "cos_q"]


def _topk(name, spark, corpus, queries, tmp_path):
    if name == "int8_ivf_from_store":
        path = str(tmp_path / "store")
        sim.store_quantized_codes(corpus, path)
        return sim.int8_ivf_from_store(spark, path, queries)
    return getattr(sim, name)(corpus, queries)


def _assert_empty_with_schema(df, name):
    assert df.dtypes == [
        ("query_id", "bigint"),
        ("neighbor_id", "bigint"),
        ("rank", "int"),
        (ENTRY_POINTS[name], "double"),
    ]
    assert df.collect() == []


@pytest.mark.parametrize("name", list(ENTRY_POINTS))
def test_empty_query_batch_returns_empty_result(spark, tables, tmp_path, name):
    emb = tables["embeddings"]
    out = _topk(name, spark, emb, emb.filter(F.col("vec_id") < 0), tmp_path)
    _assert_empty_with_schema(out, name)


@pytest.mark.parametrize("name", list(ENTRY_POINTS))
def test_empty_corpus_returns_empty_result(spark, tables, tmp_path, name):
    """An empty corpus has no quantizer stats: the int8 paths quantize
    every query to a zero-norm code and return nothing (they used to
    raise numpy's zero-size ValueError), like the float paths."""
    emb = tables["embeddings"]
    queries = emb.filter(F.col("vec_id") % sim.QUERY_MOD == 0)
    out = _topk(name, spark, emb.filter(F.col("vec_id") < 0), queries, tmp_path)
    _assert_empty_with_schema(out, name)


@pytest.mark.parametrize("name", INT8_ENTRY_POINTS)
def test_all_zero_query_vector_returns_nothing_on_int8_paths(
    spark, tmp_path, name
):
    """On a non-negative corpus the all-zero vector sits at every
    dimension's minimum, so its int8 code is all zeros: cosine is
    undefined and the query drops out, as in the oracles' ``sized``
    filter."""
    corpus = spark.createDataFrame(
        [
            (i, [float((i * 7 + d * 3) % 11) / 10 + 0.05 for d in range(sim.DIM)])
            for i in range(48)
        ],
        "vec_id long, embedding array<float>",
    )
    zero = spark.createDataFrame(
        [(10_000, [0.0] * sim.DIM)], "vec_id long, embedding array<float>"
    )
    out = _topk(name, spark, corpus, zero, tmp_path)
    _assert_empty_with_schema(out, name)
    # the same corpus does answer a live query
    live = _topk(name, spark, corpus, corpus.filter("vec_id = 20"), tmp_path)
    assert live.count() > 0


def test_int8_stats_memo_is_shared_by_search_and_store_build(spark, tables, tmp_path):
    """int8_ivf_topk and store_quantized_codes read ONE memo entry under
    the same key: the store build after a search runs no second stats
    job and encodes with exactly the state the search used."""
    from tools.job_counter import jobs_submitted

    emb = tables["embeddings"]
    key = f"memo-share:{tmp_path}"
    entry = (key, sim.IVF_CENTROIDS)
    before = set(sim._SQ_STATS_CACHE)
    try:
        sim.int8_ivf_topk(emb, stats_cache_key=key)
        assert set(sim._SQ_STATS_CACHE) - before == {entry}
        mn, mx, seed_ids, seed_vecs = sim._SQ_STATS_CACHE[entry]

        j0 = jobs_submitted(spark)
        warm = sim.store_quantized_codes(emb, str(tmp_path / "warm"), stats_cache_key=key)
        warm_jobs = jobs_submitted(spark) - j0
        j0 = jobs_submitted(spark)
        cold = sim.store_quantized_codes(emb, str(tmp_path / "cold"))
        cold_jobs = jobs_submitted(spark) - j0

        assert set(sim._SQ_STATS_CACHE) - before == {entry}
        assert warm_jobs == cold_jobs - 1, (warm_jobs, cold_jobs)
        cent_ids, cents, _norms = sim._live_codes(
            seed_ids, sim._np_quantize(seed_vecs, mn, mx)
        )
        for got, want in zip(warm, (mn, mx, cent_ids, cents)):
            np.testing.assert_array_equal(got, want)
        for got, want in zip(cold, warm):
            np.testing.assert_array_equal(got, want)
    finally:
        sim._SQ_STATS_CACHE.pop(entry, None)
