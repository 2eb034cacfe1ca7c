"""Count Spark JOBS submitted and classes COMPILED while building+running
registered queries.

Usage: python tools/job_counter.py <sf_dir> [<query>...]

With no query names it runs every registered query.  It makes two
passes over the listed queries in one process (run 1 pays derived-state
builds and code generation; run 2 shows the steady state of a warm
process) and prints one line per query,
`<name> jobs=[run1, run2] compiles=[run1, run2]`, then a `TOTAL` line.

Why (r13 verdict item 7): job-STRUCTURE optimizations — fewer
convergence-check jobs in connected components, concurrent verify
during the store build — are invisible in returned-frame plan dumps
(the relation behind a localCheckpoint prints as `Scan ExistingRDD`),
so the only before/after evidence used to be interleaved stopwatch
numbers.  The DAGScheduler's `nextJobId` counter (monotone, reflects
every submitted job including checkpoint materializations and
`collect`s) makes the count a first-class measurement.  Janino
compilations are the same kind of hidden repeat work: a warm run that
compiles again has lost its generated classes from Spark's codegen
cache (`session.CODEGEN_CACHE_ENTRIES`), so the compile count shows
that the way an extra job shows a lost memo.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def jobs_submitted(spark) -> int:
    """Total jobs submitted to this session's DAGScheduler so far.
    `nextJobId` is the scheduler's own AtomicInteger (Scala
    private[scheduler] compiles to a public accessor, so py4j reaches
    it); deltas of this counter around a block of work count the jobs
    that block submitted."""
    nid = spark.sparkContext._jsc.sc().dagScheduler().nextJobId()
    # py4j returns the AtomicInteger's value directly as int on some
    # Spark builds, the AtomicInteger object on others
    return nid if isinstance(nid, int) else nid.get()


def classes_compiled(spark) -> int:
    """Total Janino compilations in this JVM so far (plan execution
    and, in local mode, tasks): `CodegenMetrics`' compilation-time histogram
    records one sample per generated class that missed the codegen
    cache."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def count_query_work(
    spark, sf_dir: str, names: list[str]
) -> dict[str, tuple[list[int], list[int]]]:
    """``{name: (jobs per run, compiles per run)}`` for two passes over
    ``names`` — build + noop-sink execution, the bench's own timed
    action.  Run k of every query happens in pass k, so run 2 sees what
    the whole first pass left behind (memos, cached classes)."""
    from duckdb_extension_kafquack_spark.suite import REGISTRY

    counts = {name: ([], []) for name in names}
    for _ in range(2):
        for name in names:
            jobs0, compiles0 = jobs_submitted(spark), classes_compiled(spark)
            REGISTRY[name].fn(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            counts[name][0].append(jobs_submitted(spark) - jobs0)
            counts[name][1].append(classes_compiled(spark) - compiles0)
    return counts


def main() -> None:
    import duckdb_extension_kafquack_spark.functions.udf  # noqa: F401
    import duckdb_extension_kafquack_spark.operators  # noqa: F401
    import duckdb_extension_kafquack_spark.streaming  # noqa: F401
    import duckdb_extension_kafquack_spark.tpch  # noqa: F401
    from duckdb_extension_kafquack_spark.session import get_spark, load_tables
    from duckdb_extension_kafquack_spark.suite import REGISTRY

    sf_dir = sys.argv[1]
    names = sys.argv[2:] or list(REGISTRY)
    spark = get_spark("job-counter")
    spark.sparkContext.setLogLevel("ERROR")
    load_tables(spark, sf_dir)
    counts = count_query_work(spark, sf_dir, names)
    for name, (jobs, compiles) in counts.items():
        print(f"{name} jobs={jobs} compiles={compiles} (run1, run2)")
    jobs = [sum(c[0][i] for c in counts.values()) for i in range(2)]
    compiles = [sum(c[1][i] for c in counts.values()) for i in range(2)]
    print(f"TOTAL queries={len(names)} jobs={jobs} compiles={compiles}")


if __name__ == "__main__":
    main()
