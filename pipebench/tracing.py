"""Traced mode: spans around every build and action, with per-layer
counters collected from outside the package.

Nothing here runs in an untraced run. In a traced run every operation
executes under its own Spark job group, and after it returns the
tracer reads:

- the AppStatusStore, for the operation's jobs and stages (job walls,
  task counts, executor run/CPU/GC time, shuffle and spill totals);
- ``queryExecution().tracker().phases()`` of the Dataset the benchmark
  held and ran, for Catalyst analysis/optimization/planning time;
- the AQE final physical plan of that Dataset, descending through
  ``*QueryStageExec.plan()``, for Python-seam, codegen and scan
  metrics.

Spans are kept in memory and written once, at exit, by
:meth:`Tracer.write`. Each span has a name, start and end (epoch
seconds), its parent span id and the operation id.
"""

from __future__ import annotations

import itertools
import json
import os
import time
from collections import defaultdict

#: Per-operation counters, in the order reports list them.
OP_COUNTERS = (
    "build_ms",
    "catalyst.analysis_ms",
    "catalyst.optimization_ms",
    "catalyst.planning_ms",
    "sched.jobs",
    "sched.stages",
    "sched.tasks",
    "sched.gap_ms",
    "jvm.run_ms",
    "jvm.cpu_ms",
    "jvm.gc_ms",
    "jvm.codegen_ms",
    "shuffle.write_bytes",
    "shuffle.read_bytes",
    "shuffle.write_ms",
    "shuffle.fetch_wait_ms",
    "spill.memory_bytes",
    "spill.disk_bytes",
    "seam.boot_ms",
    "seam.init_ms",
    "seam.compute_ms",
    "seam.bytes_sent",
    "seam.bytes_received",
    "scan.files_read",
    "scan.bytes_read",
    "scan.store_files",
    "write.files",
    "write.bytes",
)

# SQL metric name -> per-operation counter
_PLAN_METRICS = {
    "pythonBootTime": "seam.boot_ms",
    "pythonInitTime": "seam.init_ms",
    "pythonTotalTime": "seam.compute_ms",
    "pythonDataSent": "seam.bytes_sent",
    "pythonDataReceived": "seam.bytes_received",
    "pipelineTime": "jvm.codegen_ms",
    "numFiles": "scan.files_read",
    "filesSize": "scan.bytes_read",
}
# SQL metric type -> divisor that turns its value into milliseconds
_TIME_DIVISOR = {"timing": 1.0, "nsTiming": 1e6}

_JOB_WAIT_S = 5.0


def _opt(option):
    return option.get() if option.isDefined() else None


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


class Tracer:
    """Collects spans and per-operation layer counters for one run."""

    def __init__(self, spark, meta: dict):
        self.spark = spark
        self.meta = dict(meta)
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self._ids = itertools.count(1)
        self._store = spark._jsparkSession.sparkContext().statusStore()
        self._tracker = spark.sparkContext.statusTracker()
        self._seen_stages: set[int] = set()

    # -- spans -------------------------------------------------------
    def span(self, name: str, start: float, end: float, parent: int | None,
             op_id: int, **attrs) -> int:
        sid = next(self._ids)
        self.spans.append({
            "id": sid, "parent": parent, "op_id": op_id, "name": name,
            "start": start, "end": end, **attrs,
        })
        return sid

    # -- one operation -----------------------------------------------
    def begin(self, op_id: int) -> str:
        group = f"pipebench-op-{op_id}"
        self.spark.sparkContext.setJobGroup(group, group)
        return group

    def end(self, op_id: int, op_name: str, kind: str, group: str,
            t0: float, t1: float, t2: float, held=None,
            extra: dict | None = None) -> dict:
        """Record the finished operation: ``t0``..``t1`` is the build,
        ``t1``..``t2`` the action (epoch seconds); ``held`` is the
        Dataset whose action ran, if any."""
        self.spark.sparkContext._jsc.clearJobGroup()
        c = dict.fromkeys(OP_COUNTERS, 0.0)
        c["build_ms"] = (t1 - t0) * 1e3
        root = self.span(op_name, t0, t2, None, op_id, kind=kind)
        build = self.span("build", t0, t1, root, op_id)
        action = self.span("action", t1, t2, root, op_id)
        intervals = self._jobs(group, op_id, c, build, action, t1)
        c["sched.gap_ms"] = ((t2 - t1) - covered_s(intervals, t1, t2)) * 1e3
        if held is not None:
            self._catalyst(held, c)
            self._plan(held, c)
        for k, v in (extra or {}).items():
            c[k] += v
        rec = {"op_id": op_id, "name": op_name, "kind": kind,
               "wall_s": t2 - t0, "counters": c}
        self.ops.append(rec)
        return rec

    def _jobs(self, group, op_id, c, build_span, action_span, t1):
        intervals = []
        for jid in sorted(self._tracker.getJobIdsForGroup(group)):
            job = self._wait_job(jid)
            if job is None:
                continue
            sub, done = _opt(job.submissionTime()), _opt(job.completionTime())
            if sub is None or done is None:
                continue
            start, end = sub.getTime() / 1e3, done.getTime() / 1e3
            intervals.append((start, end))
            parent = build_span if start < t1 else action_span
            self.span(f"job {jid}", start, end, parent, op_id,
                      status=str(job.status().toString()))
            c["sched.jobs"] += 1
            for sid in _seq(job.stageIds()):
                if sid in self._seen_stages:
                    continue
                self._stage(sid, c)
        return intervals

    def _wait_job(self, jid):
        """The status store is fed asynchronously by the listener bus:
        wait until it has seen the job finish."""
        deadline = time.monotonic() + _JOB_WAIT_S
        while True:
            try:
                job = self._store.job(jid)
            except Exception:  # noqa: BLE001 -- py4j: job evicted or unknown
                return None
            if job.completionTime().isDefined() or time.monotonic() > deadline:
                return job
            time.sleep(0.01)

    def _stage(self, sid, c):
        try:
            sd = self._store.lastStageAttempt(sid)
        except Exception:  # noqa: BLE001 -- py4j: stage never attempted
            return
        status = str(sd.status().toString())
        if status not in ("COMPLETE", "FAILED"):
            return
        self._seen_stages.add(sid)
        c["sched.stages"] += 1
        c["sched.tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
        c["jvm.run_ms"] += sd.executorRunTime()
        c["jvm.cpu_ms"] += sd.executorCpuTime() / 1e6
        c["jvm.gc_ms"] += sd.jvmGcTime()
        c["shuffle.write_bytes"] += sd.shuffleWriteBytes()
        c["shuffle.read_bytes"] += sd.shuffleReadBytes()
        c["shuffle.write_ms"] += sd.shuffleWriteTime() / 1e6
        c["shuffle.fetch_wait_ms"] += sd.shuffleFetchWaitTime()
        c["spill.memory_bytes"] += sd.memoryBytesSpilled()
        c["spill.disk_bytes"] += sd.diskBytesSpilled()

    @staticmethod
    def _catalyst(held, c):
        phases = held._jdf.queryExecution().tracker().phases()
        for phase in ("analysis", "optimization", "planning"):
            summary = _opt(phases.get(phase))
            if summary is not None:
                c[f"catalyst.{phase}_ms"] += summary.durationMs()

    def _plan(self, held, c):
        root = held._jdf.queryExecution().executedPlan()
        todo = [root]
        while todo:
            node = todo.pop()
            cls = node.getClass().getSimpleName()
            if cls == "AdaptiveSparkPlanExec":
                todo.append(node.executedPlan())
                continue
            if cls.endswith("QueryStageExec"):
                todo.append(node.plan())
                continue
            metrics = node.metrics()
            for key, counter in _PLAN_METRICS.items():
                m = _opt(metrics.get(key))
                if m is not None:
                    c[counter] += m.value() / _TIME_DIVISOR.get(m.metricType(), 1.0)
            todo.extend(_seq(node.children()))
            todo.extend(_seq(node.subqueries()))

    # -- output ------------------------------------------------------
    def write(self, out_dir: str, summary: dict) -> str:
        os.makedirs(out_dir, exist_ok=True)
        stamp = time.strftime("%Y%m%dT%H%M%S", time.gmtime())
        name = (f"trace-{self.meta['workload']}-s{self.meta['seed']}-"
                f"{stamp}-{os.getpid()}-{time.time_ns() % 10**9}.json")
        path = os.path.join(out_dir, name)
        with open(path, "x") as f:
            json.dump({"meta": self.meta, "summary": summary,
                       "ops": self.ops, "spans": self.spans}, f)
        return path


def covered_s(intervals: list[tuple[float, float]],
              lo: float = float("-inf"), hi: float = float("inf")) -> float:
    """Length of the union of ``intervals`` inside ``[lo, hi]``."""
    covered, cur = 0.0, lo
    for s, e in sorted(intervals):
        s, e = max(s, cur), min(e, hi)
        if e > s:
            covered += e - s
            cur = e
    return covered


def mean_counters(ops: list[dict]) -> dict[str, float]:
    """Per-operation mean of every counter."""
    if not ops:
        return dict.fromkeys(OP_COUNTERS, 0.0)
    sums: dict[str, float] = defaultdict(float)
    for op in ops:
        for k, v in op["counters"].items():
            sums[k] += v
    return {k: sums[k] / len(ops) for k in OP_COUNTERS}
