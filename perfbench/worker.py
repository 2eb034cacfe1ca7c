"""One benchmark run in a fresh Python + JVM process.

Usage: ``python3 perfbench/worker.py <run_dir>/config.json`` — started by
``run.py``, which generated the inputs and reads ``result.json`` back.

The worker imports the package untimed, then times set-up (``get_spark``
+ ``load_tables`` + datasource registration), runs one workload from
:mod:`workloads`, checks its outputs and writes what it measured.  It
touches the package only through its public calls.
"""

from __future__ import annotations

import json
import os
import random
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[1:1] = [ROOT, os.path.join(ROOT, "tools")]

from spans import SparkProbe, Tracer, median, vm_hwm_kb  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


class Run:
    """State of one run: config, session, tracer and the counters every
    workload reports into."""

    DRAIN_TIMEOUT_S = 60

    def __init__(self, cfg: dict, spark, tracer: Tracer):
        self.cfg, self.spark, self.tracer = cfg, spark, tracer
        self.dir = cfg["run_dir"]
        self.cpus = cfg["cpus"]
        self.trace = bool(cfg["trace"])
        self.probe = SparkProbe(spark) if self.trace else None
        self.rng = random.Random(cfg["seed"])
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.e2e: dict = {}
        self.layer: dict = {}
        self.meta: dict = {}
        self._index = 0
        self._jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()

    def attempt(self, what: str, fn, *args):
        """Run one operation; a failure counts against the run and the
        run goes on."""
        self.attempted += 1
        try:
            return fn(*args)
        except Exception as e:  # noqa: BLE001 — the run reports it and continues
            traceback.print_exc()
            self.failed += 1
            self.errors.append(f"{what}: {type(e).__name__}: {e}"[:400])
            return None

    def check_results(self, workload: str, checks: list[tuple[str, list[str]]]) -> None:
        for name, problems in checks:
            self.attempted += 1
            if problems:
                self.failed += 1
                self.errors.append(f"{workload}/{name}: " + "; ".join(problems)[:400])

    def shuffled(self, names: list[str]) -> list[str]:
        return self.rng.sample(names, len(names))

    def next_index(self) -> int:
        self._index += 1
        return self._index

    def warm_loop(self, one_pass, min_passes: int, warmup: int = 0) -> tuple[list, list]:
        """Warm passes until ``--seconds`` have elapsed and ``min_passes``
        ran, after ``warmup`` untraced passes that are not measured.  A
        traced run alternates untraced and traced passes (at least
        ``min_passes`` of each); the untraced ones time the same work
        without tracing cost, for the overhead figure."""
        self.tracer.enabled = False
        for _ in range(warmup):
            one_pass(False)
        untraced, traced = [], []
        need = 2 * min_passes if self.trace else min_passes
        deadline = time.perf_counter() + self.cfg["seconds"]
        i = 0
        while i < need or time.perf_counter() < deadline:
            on = self.trace and i % 2 == 1
            self.tracer.enabled = on
            (traced if on else untraced).append(one_pass(on))
            i += 1
        self.tracer.enabled = self.trace
        self.meta["peak_rss_mb"] = (vm_hwm_kb(self._jvm_pid) + vm_hwm_kb()) / 1024
        self.meta["timed_end"] = time.perf_counter()
        return untraced, traced

    def set_e2e(self, **metrics) -> None:
        self.e2e.update(metrics, peak_rss_mb=self.meta["peak_rss_mb"])

    def set_overhead(self, untraced: list[list[dict]], traced: list[list[dict]]) -> None:
        """Tracing overhead: traced against untraced warm passes of the
        same run, as a percentage of the untraced median."""
        u = median(sum(r["s"] for r in p) for p in untraced)
        t = median(sum(r["s"] for r in p) for p in traced)
        self.layer["trace.overhead_pct"] = (t / u - 1) * 100 if u else 0.0
        self.layer["trace.spans"] = len(self.tracer.spans)
        op = "drain" if self.cfg["workload"] == "topic_ingest" else "op"
        self.layer["trace.op_self_ms"] = self.tracer.median_self_ms(op)


def setup(cfg: dict, tracer: Tracer):
    """The timed set-up a user pays before the first query."""
    from duckdb_extension_kafquack_spark.session import get_spark, load_tables
    from duckdb_extension_kafquack_spark.sources.datasource import register_datasource

    times = {}
    t = time.perf_counter()
    with tracer.span("session.get_spark"):
        spark = get_spark("perfbench")
    times["session.get_spark_s"] = time.perf_counter() - t
    t = time.perf_counter()
    with tracer.span("session.load_tables"):
        load_tables(spark, cfg["inputs"]["tables"])
    times["session.load_tables_s"] = time.perf_counter() - t
    t = time.perf_counter()
    with tracer.span("session.register_datasource"):
        register_datasource(spark)
    times["session.register_datasource_s"] = time.perf_counter() - t
    return spark, times


def main() -> int:
    t_start = time.perf_counter()
    with open(sys.argv[1]) as fh:
        cfg = json.load(fh)
    # registering imports, untimed: every query module the workload calls
    import duckdb_extension_kafquack_spark.operators  # noqa: F401
    import duckdb_extension_kafquack_spark.streaming  # noqa: F401

    t_imported = time.perf_counter()
    tracer = Tracer(bool(cfg["trace"]), cfg["run_id"])
    with tracer.span("run", workload=cfg["workload"]):
        with tracer.span("setup"):
            spark, setup_times = setup(cfg, tracer)
        spark.sparkContext.setLogLevel("ERROR")
        run = Run(cfg, spark, tracer)
        t_ready = time.perf_counter()
        with tracer.span(cfg["workload"]):
            WORKLOADS[cfg["workload"]](run)
    run.meta["phase_s"] = {
        "imports": t_imported - t_start,
        "setup": t_ready - t_imported,
        "timed": run.meta["timed_end"] - t_ready,
        "checks": time.perf_counter() - run.meta.pop("timed_end"),
    }
    if run.trace:
        run.layer.update(setup_times)
        tracer.write(cfg["spans_path"])
    result = {
        "setup_s": sum(setup_times.values()),
        "e2e": run.e2e,
        "layer": run.layer,
        "attempted": run.attempted,
        "failed": run.failed,
        "errors": run.errors,
        "meta": run.meta,
    }
    with open(os.path.join(cfg["run_dir"], "result.json"), "w") as fh:
        json.dump(result, fh)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
