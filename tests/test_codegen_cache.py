"""A `get_spark` session keeps generated classes across a working set
larger than Spark's default 100-entry codegen cache: a warm query must
not recompile after many other distinct plans ran in between
(`session.CODEGEN_CACHE_ENTRIES`)."""

from tools.job_counter import classes_compiled


def test_warm_query_survives_more_than_100_other_classes(spark):
    def query_a():
        return (
            spark.range(1000)
            .selectExpr("id % 7 AS k", "id * 3 AS v")
            .groupBy("k")
            .agg({"v": "sum"})
            .collect()
        )

    want = sorted(query_a())
    # 150 distinct projections compile 150 new classes — at Spark's
    # default cache size they evict every class of query A.  `toRdd`
    # compiles the whole-stage class in this process without a Spark job.
    before = classes_compiled(spark)
    for i in range(150):
        spark.range(10).selectExpr(f"id + {i}")._jdf.queryExecution().toRdd()
    assert classes_compiled(spark) - before > 100

    before = classes_compiled(spark)
    assert sorted(query_a()) == want
    assert classes_compiled(spark) == before
