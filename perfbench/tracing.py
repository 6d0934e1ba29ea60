"""Spans, Spark status-store readings and process memory for the benchmark.

Spans are kept in memory and written out when the run ends.  Engine
numbers are read from Spark's status store after the timed region, so the
readings add no job to it.
"""

from __future__ import annotations

import itertools
import json
import math
import os
import statistics
import time
from contextlib import contextmanager


class Tracer:
    """In-memory spans: name, start, end, parent span and operation id."""

    def __init__(self, on: bool):
        self.on = on
        self.spans: list[dict] = []
        self._stack: list[tuple[int, str | None]] = []
        self._ids = itertools.count(1)

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.on:
            yield
            return
        sid = next(self._ids)
        parent, outer_op = self._stack[-1] if self._stack else (None, None)
        op = op or outer_op  # spans of one operation share its id
        start = time.perf_counter()
        self._stack.append((sid, op))
        try:
            yield
        finally:
            self._stack.pop()
            self.spans.append({"id": sid, "name": name, "start": start,
                               "end": time.perf_counter(), "parent": parent, "op": op})

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, minus the time covered by child spans
        (spans nest on one thread, so children never overlap).  Each span
        also gets its own ``self`` entry."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            s["self"] = s["end"] - s["start"] - child.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + s["self"]
        return out

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"self_s": self.self_times(), "spans": self.spans, **extra}, f)


# ------------------------------------------------------------ engine

def _store(spark):
    return spark.sparkContext._jsc.sc().statusStore()


def last_job_id(spark) -> int:
    jobs = _store(spark).jobsList(None)
    return max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1)


def engine_metrics(spark, after_job: int, wall_s: float, cores: int) -> dict[str, float]:
    """Task-level totals over every job with id > ``after_job``."""
    sc = spark.sparkContext
    store = _store(spark)
    jobs = store.jobsList(None)
    stage_ids, n_jobs = set(), 0
    for i in range(jobs.size()):
        j = jobs.apply(i)
        if j.jobId() > after_job:
            n_jobs += 1
            ids = j.stageIds()
            stage_ids.update(ids.apply(k) for k in range(ids.size()))
    no_q = sc._gateway.new_array(sc._jvm.double, 0)
    q = sc._gateway.new_array(sc._jvm.double, 2)
    q[0], q[1] = 0.5, 1.0
    stages = store.stageList(None, False, False, no_q, None)
    m = dict.fromkeys(("stages", "tasks", "run_ms", "cpu_ns", "gc_ms", "sr", "sw", "spill"), 0)
    skews = []
    for i in range(stages.size()):
        s = stages.apply(i)
        if s.stageId() not in stage_ids or s.numCompleteTasks() == 0:
            continue
        m["stages"] += 1
        m["tasks"] += s.numCompleteTasks()
        m["run_ms"] += s.executorRunTime()
        m["cpu_ns"] += s.executorCpuTime()
        m["gc_ms"] += s.jvmGcTime()
        m["sr"] += s.shuffleReadBytes()
        m["sw"] += s.shuffleWriteBytes()
        m["spill"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        if s.numCompleteTasks() >= 2:
            summ = store.taskSummary(s.stageId(), s.attemptId(), q)
            if summ.isDefined():
                rt = summ.get().executorRunTime()
                med, mx = rt.apply(0), rt.apply(1)
                skews.append(mx / med if med > 0 else 1.0)
    task_run_s = m["run_ms"] / 1000.0
    return {
        "engine.jobs": n_jobs,
        "engine.stages": m["stages"],
        "engine.tasks": m["tasks"],
        "engine.task_run_s": task_run_s,
        "engine.task_cpu_s": m["cpu_ns"] / 1e9,
        "engine.gc_s": m["gc_ms"] / 1000.0,
        "engine.shuffle_read_bytes": m["sr"],
        "engine.shuffle_write_bytes": m["sw"],
        "engine.spill_bytes": m["spill"],
        "engine.task_skew": statistics.median(skews) if skews else 1.0,
        "engine.fixed_overhead_s": wall_s - task_run_s / cores,
    }


def planning_ms(df) -> float:
    """analysis + optimization + planning phases of ``df``'s query
    execution (forces the physical plan if it was never executed)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    jvm = df.sparkSession.sparkContext._jvm
    phases = jvm.scala.jdk.javaapi.CollectionConverters.asJava(qe.tracker().phases())
    return float(sum(phases.get(k).durationMs() for k in phases.keySet()))


# ------------------------------------------------------------ memory

def _hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this Python process."""
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    return _hwm_mb(jvm_pid) + _hwm_mb(os.getpid())


def percentile_tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest nearest-rank percentile, at least
    p90, that leaves ten samples beyond it -- p90 itself below 100 samples,
    where ten beyond would fall under p90."""
    v = sorted(values)
    n = len(v)
    rank = max(math.ceil(0.9 * n), n - 10)
    return v[rank - 1], 100.0 * rank / n, n
