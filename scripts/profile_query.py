#!/usr/bin/env python
"""Per-query profiler for the optimization rounds (guide §1).

Usage: python scripts/profile_query.py [--tag before] [--reps 3]
           [--no-plan] name [name ...]

For each registry query: build the DataFrame, write its
``explain("formatted")`` to ``plans/<plan-dir>/<name>_<tag>.txt``
(``--plan-dir`` defaults to ``tmp``; ``plans/*tmp/`` is git-ignored),
run the bench's timed action (``.count()``) ``reps`` times with the
bench's inter-measurement hygiene, and print per-stage wall/cpu from
the AppStatusStore (``bench._stage_rows``) so the expensive stage is
visible without a UI. Each rep line also carries the generated classes
it compiled and their compile ms (``_codegen``): a warm rep that keeps
compiling shows a codegen class cache thrash. ``build_ms=`` is the
part of the wall spent building the DataFrame on the driver, and
``py4j_calls=`` counts the driver's py4j round-trips in the rep (plan
build plus action): a plan built from Python lambdas pays one per
expression node.
"""

from __future__ import annotations

import argparse
import io
import os
import sys
import time
from contextlib import redirect_stdout

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

from bench import _hygiene, _stage_rows, warm_workers  # noqa: E402
from datasplash_spark import queries as Q  # noqa: E402
from datasplash_spark.pipeline import PipelineOptions, make_session  # noqa: E402


def _job_rows(spark):
    """Per-JOB rows from the AppStatusStore (guide §1.2/§5: on
    multi-action pipelines the bench wall is often JOB-COUNT latency,
    not stage work — list every scheduled job with its wall span so
    fusible/removable actions are visible). A job run for a SQL
    execution is named by that execution's id and description (the
    call site of the action that started it): AQE submits its query
    stages from a pool thread, so their own job names all read
    ``$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java``."""
    sql = {}
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    it = execs.iterator()
    while it.hasNext():
        ex = it.next()
        jobs = ex.jobs().keysIterator()
        while jobs.hasNext():
            sql[jobs.next()] = f"[sql {ex.executionId()}] {ex.description()}"
    store = spark._jsparkSession.sparkContext().statusStore()
    out = {}
    it = store.jobsList(None).iterator()
    while it.hasNext():
        jd = it.next()
        sub = jd.submissionTime()
        end = jd.completionTime()
        t0 = sub.get().getTime() if sub.isDefined() else None
        t1 = end.get().getTime() if end.isDefined() else None
        out[jd.jobId()] = (
            t0,
            t1,
            sql.get(jd.jobId(), str(jd.name() or ""))[:100],
            jd.numTasks(),
        )
    return out


def _codegen(spark) -> tuple[int, float]:
    """``(classes compiled, compile ms)`` so far in this JVM: Spark's
    ``CodegenMetrics`` compile count (one per class-cache miss) and
    ``CodeGenerator``'s accumulated compile time."""
    jvm = spark._jvm
    count = (
        jvm.org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME().getCount()
    )
    nanos = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
    return count, nanos / 1e6


class _Py4jCounter:
    """Counts the py4j commands the driver's main thread sends to the
    JVM: the gateway client's ``send_command`` is wrapped on the
    instance, so every Java object sharing that client goes through
    the count. py4j's finalizer thread, which releases dead objects
    at any time, is left out."""

    def __init__(self, spark):
        import threading

        self.n = 0
        client = spark.sparkContext._gateway._gateway_client
        real = client.send_command
        me = threading.get_ident()

        def send_command(*args, **kwargs):
            self.n += threading.get_ident() == me
            return real(*args, **kwargs)

        client.send_command = send_command


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--tag", default=None, help="plan file suffix (omit to skip)")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--jobs", action="store_true",
                    help="print the per-job breakdown of the last rep")
    ap.add_argument("--plan-dir", default="tmp",
                    help="plans/<dir> for --tag output (plans/*tmp/ is "
                         "git-ignored)")
    args = ap.parse_args()

    spark = make_session(PipelineOptions(
        app_name="profile-query",
        extra_conf={"spark.ui.retainedStages": "512",
                    "spark.ui.retainedJobs": "512"},
    ))
    # same warm-up core as bench.py: JVM codegen + parquet caches +
    # python worker pool, so rep timings sit in the bench's warm band
    warm = spark.read.parquet(os.path.join(args.sf_dir, "lineitem.parquet"))
    warm.groupBy("l_returnflag").count().count()
    warm_workers(spark)

    py4j = _Py4jCounter(spark)
    qs = Q.queries()
    for name in args.names:
        fn = qs[name]
        df = fn(spark, args.sf_dir)
        if args.tag:
            plan_dir = os.path.join(HERE, "plans", args.plan_dir)
            os.makedirs(plan_dir, exist_ok=True)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            with open(os.path.join(plan_dir, f"{name}_{args.tag}.txt"), "w") as fh:
                fh.write(buf.getvalue())
        _hygiene(spark)
        walls = []
        for rep in range(args.reps):
            pre = _stage_rows(spark)
            pre_jobs = _job_rows(spark) if args.jobs else {}
            cg0 = _codegen(spark)
            calls0 = py4j.n
            t0 = time.time()
            df = fn(spark, args.sf_dir)
            build_ms = (time.time() - t0) * 1e3
            n = df.count()
            dt = time.time() - t0
            calls = py4j.n - calls0
            cg1 = _codegen(spark)
            post = _stage_rows(spark)
            if args.jobs and rep == args.reps - 1:
                post_jobs = _job_rows(spark)
                new_jobs = {
                    k: v for k, v in post_jobs.items() if k not in pre_jobs
                }
                base = min(
                    (v[0] for v in new_jobs.values() if v[0]), default=0
                )
                print(f"   {len(new_jobs)} jobs:")
                for jid, (s0, s1, nm, nt) in sorted(new_jobs.items()):
                    off = (s0 - base) / 1e3 if s0 else -1
                    span = (s1 - s0) / 1e3 if s0 and s1 else -1
                    print(
                        f"   job {jid:4d} @+{off:6.2f}s {span:6.3f}s "
                        f"tasks={nt:4d}  {nm}"
                    )
            walls.append(dt)
            cpu = sum(v[1] - pre.get(k, (0, 0, 0, ""))[1]
                      for k, v in post.items()) / 1e9
            run = sum(v[0] - pre.get(k, (0, 0, 0, ""))[0]
                      for k, v in post.items()) / 1e3
            print(f"## {name} rep{rep}: wall={dt:.3f}s jvm_run={run:.2f}s "
                  f"jvm_cpu={cpu:.2f}s rows={n} "
                  f"compiles={cg1[0] - cg0[0]} "
                  f"compile_ms={cg1[1] - cg0[1]:.0f} "
                  f"build_ms={build_ms:.0f} py4j_calls={calls}")
            if rep == args.reps - 1:
                new = {k: v for k, v in post.items()
                       if k not in pre or v[0] != pre[k][0]}
                for (sid, att), (rt, ct, nt, nm) in sorted(
                        new.items(), key=lambda kv: -kv[1][0])[:12]:
                    d_rt = rt - pre.get((sid, att), (0, 0, 0, ""))[0]
                    d_ct = ct - pre.get((sid, att), (0, 0, 0, ""))[1]
                    print(f"   stage {sid}: run={d_rt/1e3:7.2f}s "
                          f"cpu={d_ct/1e9:7.2f}s tasks={nt:4d}  {nm[:90]}")
            _hygiene(spark)
        print(f"# {name}: min_wall={min(walls):.3f}s "
              f"walls={[round(w, 3) for w in walls]}")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
