"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  Generates the workload's inputs from the
seed into a scratch directory under ``.perfbench/``, runs the workload in
a fresh worker process (Python + JVM), and prints, as the last line of
stdout, one JSON object::

    {"correct": bool, "attempted": int, "failed": int,
     "metrics": {name: {"value": float, "unit": str}}}

With ``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` the per-layer ones, from a traced
run that also writes its spans to ``.perfbench/spans/``.  The line before
it is a ``{"meta": ...}`` object with the run's context (host CPU
reference, load average, tail percentile and sample count, errors).
The scratch directory is removed at the end, and every process the run
started has ended before it exits.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402

#: Input sizes, fixed for every seed so that seeds vary content, not work.
SIZES = {
    "topic_scan": {"topic": gen.TopicSpec(rows=20_000, row_groups=8, user_skew=1.1,
                                          redelivery_share=0.0)},
    "topic_ingest": {"topic": gen.TopicSpec(rows=6_000, row_groups=6, user_skew=1.1,
                                            redelivery_share=0.05),
                     "max_offsets_per_trigger": 1_000},
    "corpus_curate": {"corpus": gen.CorpusSpec(docs=600, vectors=600)},
}
WORKER_TIMEOUT_S = 150
DRIVER_MEMORY = "2g"
PR_SET_CHILD_SUBREAPER = 36


def _generate(workload: str, seed: int, run_dir: str) -> tuple[dict, dict]:
    sizes = SIZES[workload]
    input_dir = os.path.join(run_dir, "input")
    if "topic" in sizes:
        generated = gen.write_topic(input_dir, seed, sizes["topic"])
        inputs = {"topic": input_dir, "tables": input_dir}
    else:
        generated = gen.write_corpus(input_dir, seed, sizes["corpus"])
        inputs = {"corpus": input_dir, "tables": input_dir}
    return inputs, generated


def _worker_env(run_dir: str, inputs: dict, cpus: int) -> dict:
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    env = dict(os.environ)
    env.update(
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_SF_DIR=inputs["tables"],
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEMORY,
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        PYSPARK_SUBMIT_ARGS=(
            "--conf spark.ui.showConsoleProgress=false "
            # the heap is touched up front, so the JVM's resident size is the
            # configured heap plus off-heap memory, not the GC's sizing luck
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
            f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch' pyspark-shell"
        ),
    )
    return env


def _reap_group(pgid: int) -> None:
    """Stop whatever the worker left in its process group (the JVM and
    its Python workers) and wait until every one has ended; this process
    is their subreaper, so they are our children once orphaned."""
    deadline = time.monotonic() + 20
    sig = signal.SIGTERM
    while True:
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        while True:
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                break
            if pid == 0:
                break
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        time.sleep(0.1)


def _run_worker(cfg_path: str, run_dir: str, env: dict, log_path: str) -> int:
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), cfg_path],
            cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            return proc.wait(timeout=WORKER_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return -1
        finally:
            _reap_group(proc.pid)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    if args.workload not in SIZES:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    if not os.path.isfile(os.path.join(ROOT, "duckdb_extension_kafquack_spark", "__init__.py")):
        print("the duckdb_extension_kafquack_spark package is not in this checkout",
              file=sys.stderr)
        return 2

    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    libc.prctl.restype = ctypes.c_int
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")
    sys.path.insert(0, ROOT)
    from bench import _cpu_reference

    cpus = len(os.sched_getaffinity(0))
    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    out_dir = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(out_dir, "runs", run_id)
    for sub in ("logs", "spans"):
        os.makedirs(os.path.join(out_dir, sub), exist_ok=True)
    os.makedirs(run_dir)
    meta = {"cpu_ref_sec": _cpu_reference(), "loadavg_start": os.getloadavg()[0], "cpus": cpus}
    try:
        inputs, generated = _generate(args.workload, args.seed, run_dir)
        cfg = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "run_id": run_id, "run_dir": run_dir, "cpus": cpus,
            "inputs": inputs, "generated": generated,
            "sizes": {k: v for k, v in SIZES[args.workload].items() if isinstance(v, int)},
            "spans_path": os.path.join(out_dir, "spans", run_id + ".jsonl"),
        }
        cfg_path = os.path.join(run_dir, "config.json")
        with open(cfg_path, "w") as fh:
            json.dump(cfg, fh)
        log_path = os.path.join(out_dir, "logs", run_id + ".log")
        t0 = time.perf_counter()
        rc = _run_worker(cfg_path, run_dir, _worker_env(run_dir, inputs, cpus), log_path)
        meta["worker_wall_s"] = time.perf_counter() - t0
        result_path = os.path.join(run_dir, "result.json")
        if rc != 0 or not os.path.exists(result_path):
            with open(log_path) as fh:
                sys.stderr.write(fh.read()[-6000:])
            print(f"worker failed with exit code {rc}; log: {log_path}", file=sys.stderr)
            return 1
        with open(result_path) as fh:
            result = json.load(fh)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    measured = result["layer"] if args.trace else {**result["e2e"], "setup_s": result["setup_s"]}
    metrics = {
        m["name"]: {"value": float(measured.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in bench["per_layer" if args.trace else "end_to_end"]
    }
    meta.update(result["meta"], loadavg_end=os.getloadavg()[0], errors=result["errors"],
                generated=generated)
    print(json.dumps({"meta": meta}))
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
