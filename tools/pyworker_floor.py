"""Python-worker launch floor: the wait from task launch to the UDF call,
and from the call to the UDF's input being drained.

Usage: python tools/pyworker_floor.py [--jobs N] [--bare]

Runs one warm-up job, then N four-task ``mapInPandas`` jobs over one row
per task.  Each task's UDF returns its task id and the wall-clock times
it was called and had drained its input; the task's launch time comes
from Spark's status store (``AppStatusStore`` task data).  Two spans per
task, in ms:

* ``wait``: launch → UDF call, the Python-worker machinery before any
  user code runs (worker hand-off, ``setup_spark_files``, the command
  unpickle);
* ``input``: UDF call → input drained, the hand-off of one Arrow batch
  over the JVM-Python channel.  Over loopback TCP it held each task
  ~40 ms (the delayed-ACK timer); over a Unix domain socket it is
  under 1 ms.

Prints one JSON line with the median and maximum of each over the
measured tasks, and the transport the session used.

``--bare`` starts the SparkContext without ``get_spark``'s static confs
(as a driver's own bare session does), so the stock ``pyspark.daemon``
serves the workers over TCP — the before side of a daemon comparison.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TASKS = 4


def _called_at(batches):
    import time

    import pandas as pd
    from pyspark import TaskContext

    called_ms = time.time() * 1000  # before the input is read
    for _ in batches:
        pass
    drained_ms = time.time() * 1000
    yield pd.DataFrame(
        {
            "task_id": [TaskContext.get().taskAttemptId()],
            "called_ms": [called_ms],
            "drained_ms": [drained_ms],
        }
    )


def launch_waits(spark, group: str) -> list[tuple[float, float]]:
    """Run one four-task job in job group ``group``; return each task's
    (launch-to-UDF wait, UDF-to-input-drained) in ms."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "pyworker floor")
    rows = (
        spark.range(TASKS, numPartitions=TASKS)
        .mapInPandas(_called_at, "task_id long, called_ms double, drained_ms double")
        .collect()
    )
    called = {r.task_id: (r.called_ms, r.drained_ms) for r in rows}
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    launched = {}
    for jid in sc.statusTracker().getJobIdsForGroup(group):
        stage_ids = store.job(jid).stageIds()
        for i in range(stage_ids.size()):
            sd = store.lastStageAttempt(stage_ids.apply(i))
            tasks = store.taskList(sd.stageId(), sd.attemptId(), 100000)
            for j in range(tasks.size()):
                t = tasks.apply(j)
                launched[t.taskId()] = t.launchTime().getTime()
    return [(c - launched[tid], d - c) for tid, (c, d) in called.items()]


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--jobs", type=int, default=20)
    ap.add_argument("--bare", action="store_true")
    args = ap.parse_args()

    from duckdb_extension_kafquack_spark.session import get_spark

    if args.bare:
        from pyspark import SparkConf, SparkContext

        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        SparkContext(
            conf=SparkConf()
            .setMaster(f"local[{cpus}]")
            .setAppName("pyworker-floor")
            .set("spark.ui.enabled", "false")
        )
    spark = get_spark("pyworker-floor")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        cold = [w for w, _ in launch_waits(spark, "pyworker-floor-warmup")]
        spans = [
            s for k in range(args.jobs) for s in launch_waits(spark, f"pyworker-floor-{k}")
        ]
        conf = spark.sparkContext.getConf()
        daemon = conf.get("spark.python.daemon.module", "pyspark.daemon")
        uds = conf.get("spark.python.unix.domain.socket.enabled", "false") == "true"
    finally:
        spark.stop()
    print(
        json.dumps(
            {
                "daemon": daemon,
                "transport": "unix" if uds else "tcp",
                "python": sys.version.split()[0],
                "jobs": args.jobs,
                "tasks": len(spans),
                "cold_wait_ms_max": round(max(cold), 1),
                "wait_ms_p50": round(statistics.median(w for w, _ in spans), 1),
                "wait_ms_max": round(max(w for w, _ in spans), 1),
                "input_ms_p50": round(statistics.median(i for _, i in spans), 1),
                "input_ms_max": round(max(i for _, i in spans), 1),
            }
        )
    )


if __name__ == "__main__":
    main()
