"""Spans, Spark-side counters and the statistics the benchmark reports.

:class:`Tracer` keeps spans in memory (name, start, end, parent, run id)
and writes them out once, at the end of a run.  With tracing off it
records nothing, so the end-to-end timings carry no tracing cost.

:class:`SparkProbe` reads Spark's own monitoring state through py4j with
the UI disabled: the DAGScheduler job counter, the ``AppStatusStore``
job/stage/task records, each query's ``QueryPlanningTracker`` and the
block manager's RDD storage info.  It is only called from traced code.
"""

from __future__ import annotations

import json
import math
import statistics
import time
from contextlib import contextmanager


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def quantile(xs, p: float) -> float:
    """Linear-interpolated ``p``-quantile (numpy's default method)."""
    s = sorted(xs)
    if not s:
        return 0.0
    pos = (len(s) - 1) * p
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def tail(xs) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples beyond it, floored
    at the median: returns ``(value, percentile, sample_count)``."""
    n = len(xs)
    p = max(0.5, 1.0 - 10.0 / n) if n else 0.5
    return quantile(xs, p), round(p * 100, 1), n


class Tracer:
    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> None:
        """Record a span measured elsewhere (e.g. a streaming trigger,
        from its progress event), already placed on this clock."""
        if self.enabled:
            self.spans.append(
                {"id": len(self.spans), "name": name, "parent": parent,
                 "run_id": self.run_id, "start": start, "end": end, **attrs}
            )

    def self_times(self) -> dict[int, float]:
        """Each span's duration minus the part of it its children cover
        (a span still open counts as ending now)."""
        now = time.perf_counter()
        end = {s["id"]: now if s["end"] is None else s["end"] for s in self.spans}
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], end[s["id"]]))
        out = {}
        for s in self.spans:
            covered, cur_lo, cur_hi = 0.0, None, None
            for lo, hi in sorted(children.get(s["id"], [])):
                lo, hi = max(lo, s["start"]), min(hi, end[s["id"]])
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    covered += (cur_hi - cur_lo) if cur_hi is not None else 0.0
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            covered += (cur_hi - cur_lo) if cur_hi is not None else 0.0
            out[s["id"]] = (end[s["id"]] - s["start"]) - covered
        return out

    def median_self_ms(self, name: str) -> float:
        st = self.self_times()
        return median(st[s["id"]] * 1000 for s in self.spans if s["name"] == name)

    def write(self, path: str) -> None:
        st = self.self_times()
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({**s, "self": st[s["id"]]}) + "\n")


class SparkProbe:
    """Read-only view of one SparkContext's scheduler and status store."""

    def __init__(self, spark):
        self.spark = spark
        self.jsc = spark.sparkContext._jsc.sc()
        self.store = self.jsc.statusStore()

    def next_job_id(self) -> int:
        nid = self.jsc.dagScheduler().nextJobId()
        return nid if isinstance(nid, int) else nid.get()

    def settle(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status store holds the jobs that just finished."""
        self.jsc.listenerBus().waitUntilEmpty()

    def _stages(self, job_ids) -> list:
        out = []
        for jid in job_ids:
            stage_ids = self.store.job(jid).stageIds()
            for i in range(stage_ids.size()):
                sd = self.store.lastStageAttempt(stage_ids.apply(i))
                if sd.status().toString() == "COMPLETE":
                    out.append(sd)
        return out

    def exec_metrics(self, job_ids) -> dict:
        """Totals over the stages that ran for ``job_ids``."""
        job_ids = list(job_ids)
        self.settle()
        stages = self._stages(job_ids)
        return {
            "jobs": len(job_ids),
            "stages": len(stages),
            "tasks": sum(s.numCompleteTasks() for s in stages),
            "executor_run_ms": sum(s.executorRunTime() for s in stages),
            "executor_cpu_ms": sum(s.executorCpuTime() for s in stages) / 1e6,
            "shuffle_write_b": sum(s.shuffleWriteBytes() for s in stages),
            "spill_b": sum(s.diskBytesSpilled() + s.memoryBytesSpilled() for s in stages),
        }

    def leaf_stage(self, job_id: int) -> dict:
        """The job's first stage (the one reading the source): its task
        count, executor run/CPU time and task-duration skew."""
        self.settle()
        stage_ids = self.store.job(job_id).stageIds()
        sid = min(stage_ids.apply(i) for i in range(stage_ids.size()))
        sd = self.store.lastStageAttempt(sid)
        tasks = self.store.taskList(sid, sd.attemptId(), 100000)
        durs = []
        for i in range(tasks.size()):
            d = tasks.apply(i).duration()
            if d.isDefined():
                durs.append(d.get())
        mid = median(durs)
        return {
            "tasks": sd.numCompleteTasks(),
            "executor_run_ms": sd.executorRunTime(),
            "executor_cpu_ms": sd.executorCpuTime() / 1e6,
            "task_skew": (max(durs) / mid) if mid else 0.0,
        }

    def group_jobs(self, group: str) -> list[int]:
        return list(self.spark.sparkContext.statusTracker().getJobIdsForGroup(group))

    @staticmethod
    def planning_phases(jqe) -> dict:
        """analysis/optimization/planning ms from a JVM QueryExecution."""
        phases = jqe.tracker().phases()
        out = {}
        for k in ("analysis", "optimization", "planning"):
            v = phases.get(k)
            out[k + "_ms"] = v.get().durationMs() if v.isDefined() else 0
        return out

    def cached_bytes(self) -> int:
        return sum(r.memSize() + r.diskSize() for r in self.jsc.getRDDStorageInfo())


def vm_hwm_kb(pid: int | str = "self") -> int:
    """Peak resident set (VmHWM) of a process, in KiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0
