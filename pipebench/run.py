#!/usr/bin/env python3
"""Pipeline benchmark for datasplash_spark.

Run from the repository root:

    python3 pipebench/run.py --workload curate --seed 1 --seconds 5 --trace 0

One process, one closed-loop client (the next operation starts when the
previous one finishes) on Spark ``local[nproc]``. The run

1. pins its environment (``SPARK_GRAFT_CPUS`` = nproc, a 2g JVM heap,
   Spark scratch and temp files inside a per-run directory of the
   checkout, removed at exit);
2. sets up: starts the session, generates the seeded inputs several
   times (the median counts), loads them, and runs one untimed warm
   cycle;
3. measures whole cycles of operations for at least ``--seconds`` and
   at least the workload's ``min_cycles``;
4. with ``--trace 1``, measures a second, traced window of the same
   length, its cycles taking turns with the untraced ones, and writes
   its spans to ``.pipebench_traces/``;
5. runs the workload's untimed correctness gate;
6. stops Spark and every process it started, then prints a detail line
   and, as the last line, the result object with the metrics that
   ``BENCHMARK.json`` lists (end-to-end ones untraced, per-layer ones
   traced).

Workloads: ``curate`` and ``serve_ingest`` (see ``workloads.py``).
Exits 2 without a result when the package is not next to this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

import host
import tracing
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUNS_DIR = os.path.join(ROOT, ".pipebench_runs")
TRACES_DIR = os.path.join(ROOT, ".pipebench_traces")
SETUP_REPS = 3
HEAP = "2g"


def log(msg: str) -> None:
    print(f"[pipebench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def pct(values: list[float], q: float) -> float:
    """Linear-interpolated ``q``-quantile (0..1) of ``values``."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[round(q * 100) - 1]


class Client:
    """Closed-loop client: runs operations one at a time, whole cycles
    at a time, and records each one's wall time."""

    def __init__(self, spark, workload, ops, tracer=None):
        self.spark = spark
        self.wl = workload
        self.ops = ops
        self.tracer = tracer
        self.runs: dict[str, int] = {}
        self.failed = 0
        self._epoch0 = time.time()
        self._perf0 = time.perf_counter()

    def _epoch(self, perf: float) -> float:
        return self._epoch0 + (perf - self._perf0)

    def run_op(self, op, op_id: int) -> dict:
        i = self.runs.get(op.name, 0)
        self.runs[op.name] = i + 1
        before = [workloads.store_files(s) for s in op.stores] if self.tracer else []
        group = self.tracer.begin(op_id) if self.tracer else None
        result = held = None
        p0 = time.perf_counter()
        p1 = p0
        try:
            built = op.build(i)
            p1 = time.perf_counter()
            result, held = op.act(built)
            ok = self.wl.check(op, result)
            if not ok:
                log(f"{op.name}: result differs from its first run")
        except Exception:  # noqa: BLE001 -- a failed op is counted, the loop goes on
            log(f"{op.name} failed:\n{traceback.format_exc()}")
            ok = False
        p2 = time.perf_counter()
        rec = {"name": op.name, "kind": op.kind, "ok": ok,
               "wall_s": p2 - p0, "build_s": p1 - p0,
               "parts": result if isinstance(result, dict) else {}}
        if self.tracer:
            extra = {}
            if op.kind == "read":
                extra["scan.store_files"] = sum(f for f, _ in before)
            if op.kind == "write":
                after = [workloads.store_files(s) for s in op.stores]
                extra["write.files"] = sum(a[0] - b[0] for a, b in zip(after, before))
                extra["write.bytes"] = sum(a[1] - b[1] for a, b in zip(after, before))
            self.tracer.end(op_id, op.name, op.kind, group, self._epoch(p0),
                            self._epoch(p1), self._epoch(p2), held, extra)
        self._release()
        if not ok:
            self.failed += 1
        return rec

    def _release(self) -> None:
        """Drop what an operation left cached (untimed), so one pass's
        storage cannot crowd the next."""
        jsc = self.spark.sparkContext._jsc
        if not jsc.getPersistentRDDs().isEmpty():
            self.spark.catalog.clearCache()
            for rdd in jsc.getPersistentRDDs().values():
                rdd.unpersist(False)


def measure(clients: list[Client], seconds: float, min_cycles: int) -> list[dict]:
    """Run whole cycles, one client's at a time, until every client has
    run at least ``min_cycles`` cycles and at least ``seconds`` of
    cycle time; return one window of records per client. Two clients
    take turns in ABBA order, so a drift in speed over the run, such as
    JIT warm-up or store growth, falls on both alike."""
    wins = [{"records": [], "cycle_s": [], "tree_cpu_s": 0.0, "steal_s": 0.0}
            for _ in clients]
    turns = list(zip(clients, wins))
    while not all(len(w["cycle_s"]) >= min_cycles and sum(w["cycle_s"]) >= seconds
                  for w in wins):
        for client, win in turns:
            cpu0, steal0 = host.tree_cpu_s(), host.steal_s()
            c0 = time.perf_counter()
            for op in client.ops:
                win["records"].append(client.run_op(op, len(win["records"]) + 1))
            win["cycle_s"].append(time.perf_counter() - c0)
            win["tree_cpu_s"] += host.tree_cpu_s() - cpu0
            win["steal_s"] += host.steal_s() - steal0
        turns.reverse()
    for w in wins:
        w["cycles"], w["wall_s"] = len(w["cycle_s"]), sum(w["cycle_s"])
    return wins


def end_to_end(win: dict, setup_s: float, peak_bytes: int) -> dict:
    # a failed op counts with the time it took to fail; the result's
    # "failed" count marks the run incorrect
    walls = [r["wall_s"] for r in win["records"]]
    return {
        "setup_s": setup_s,
        "peak_rss_mb": peak_bytes / 2**20,
        # closed-loop throughput of the median whole cycle
        "ops_per_s": len(win["records"]) / win["cycles"] / statistics.median(win["cycle_s"]),
        "op_p50_s": pct(walls, 0.5),
        "op_p90_s": pct(walls, 0.9),
    }


def workload_detail(wl, win: dict) -> dict:
    """Workload-level figures (reads, ingest, documents per second),
    printed on the detail line."""
    recs = win["records"]
    out = {"ops": len(recs), "cycles": win["cycles"], "window_s": win["wall_s"],
           "host.steal_s": win["steal_s"]}
    names = dict.fromkeys(r["name"] for r in recs)
    out["op_median_s"] = {
        n: statistics.median(r["wall_s"] for r in recs if r["name"] == n) for n in names}
    if wl.docs_per_cycle:
        out["docs_per_s"] = wl.docs_per_cycle * win["cycles"] / win["wall_s"]
    reads = [r["wall_s"] for r in recs if r["kind"] == "read"]
    writes = [r["wall_s"] for r in recs if r["kind"] == "write"]
    if reads:
        out["read_p50_ms"] = pct(reads, 0.5) * 1e3
        out["read_p90_ms"] = pct(reads, 0.9) * 1e3
    if writes:
        out["ingest_batch_p50_s"] = pct(writes, 0.5)
    return out


def per_layer(win: dict, tracer, setup: dict, overhead_pct: float, cpus: int) -> dict:
    ops = tracer.ops
    m = tracing.mean_counters(ops)
    m.pop("scan.store_files")
    init, comp = m["seam.init_ms"], m["seam.compute_ms"]
    m["seam.init_share"] = init / (init + comp) if init + comp else 0.0
    store = sum(o["counters"]["scan.store_files"] for o in ops)
    read = sum(o["counters"]["scan.files_read"] for o in ops
               if o["counters"]["scan.store_files"])
    m["scan.pruned_share"] = 1.0 - read / store if store else 0.0

    def med(vals):
        return statistics.median(vals) if vals else 0.0

    recs = win["records"]
    for name, metric in workloads.CURATE_PASSES.items():
        m[metric] = med([r["wall_s"] for r in recs if r["name"] == name])
    m["read.ivf_p50_ms"] = med([r["wall_s"] for r in recs if r["name"] == "read.ivf"]) * 1e3
    m["read.bm25_p50_ms"] = med([r["wall_s"] for r in recs if r["name"] == "read.bm25"]) * 1e3
    m["ingest.append_ivf_p50_s"] = med([r["parts"]["append_ivf_s"] for r in recs if r["parts"]])
    m["ingest.admitter_p50_s"] = med([r["parts"]["admitter_s"] for r in recs if r["parts"]])
    m.update(setup)
    m["host.tree_cpu_s"] = win["tree_cpu_s"]
    m["host.cpu_util"] = win["tree_cpu_s"] / (win["wall_s"] * cpus)
    m["host.steal_s"] = win["steal_s"]
    m["trace.overhead_pct"] = overhead_pct
    return m


def pin_env(run_dir: str) -> dict:
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(host.nproc()),
        "SPARK_GRAFT_DRIVER_MEM": HEAP,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
    })
    return {
        "extra_conf": {
            "spark.driver.defaultJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        },
        "env": {k: os.environ[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM")},
    }


def stop_spark(spark) -> None:
    """Stop the session and the JVM, then wait until every process this
    run started (JVM, Python daemon and workers) has ended."""
    import signal

    from pyspark import SparkContext

    children = [p for p in host.tree_pids() if p != os.getpid()]
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.close()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 -- subprocess.TimeoutExpired
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 20
    while True:
        alive = [p for p in children if _alive(p)]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 10
        time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            state = f.read().rsplit(")", 1)[1].split()[0]
    except (OSError, IndexError):
        return False
    return state != "Z"


def run(args, run_dir: str, spec: dict) -> tuple[dict, dict]:
    pinned = pin_env(run_dir)
    import datasplash_spark  # noqa: F401 -- exports PYTHONPATH before the JVM starts
    import pyspark
    from datasplash_spark.pipeline import PipelineOptions, make_session

    cpus = host.nproc()
    with host.MemorySampler() as mem:
        log(f"{args.workload} seed={args.seed}: starting Spark local[{cpus}]")
        t = time.perf_counter()
        spark = make_session(PipelineOptions(app_name="pipebench",
                                             extra_conf=pinned["extra_conf"]))
        session_s = time.perf_counter() - t
        try:
            wl = workloads.WORKLOADS[args.workload](spark, run_dir, args.seed)
            gen_s = []
            for _ in range(SETUP_REPS):
                t = time.perf_counter()
                wl.generate()
                gen_s.append(time.perf_counter() - t)
            t = time.perf_counter()
            wl.load()
            load_s = time.perf_counter() - t
            ops = wl.cycle()
            client = Client(spark, wl, ops)
            t = time.perf_counter()
            warm, = measure([client], 0, min_cycles=1)
            warm_s = time.perf_counter() - t
            setup = {"pipeline.session_s": session_s,
                     "setup.generate_s": statistics.median(gen_s),
                     "setup.load_s": load_s, "setup.warm_s": warm_s}
            setup_s = sum(setup.values())
            log(f"setup {setup_s:.1f}s ({', '.join(f'{k} {v:.2f}' for k, v in setup.items())})")

            clients = [client]
            if args.trace:
                tracer = tracing.Tracer(spark, {"workload": args.workload, "seed": args.seed})
                traced = Client(spark, wl, ops, tracer)
                traced.runs = client.runs  # one op index sequence for both
                clients.append(traced)
            wins = measure(clients, args.seconds, wl.min_cycles)
            win = wins[0]
            log(f"measured {len(win['records'])} ops in {win['wall_s']:.1f}s")
            attempted = sum(len(w["records"]) for w in [warm, *wins])

            t = time.perf_counter()
            checks, gate_failed = wl.gate(log)
            log(f"gate: {checks} checks, {gate_failed} failed in {time.perf_counter() - t:.1f}s")
            attempted += checks
            failed = gate_failed + sum(c.failed for c in clients)
            metrics = end_to_end(win, setup_s, mem.peak_bytes)
            detail = {"workload": args.workload, "seed": args.seed,
                      "seconds": args.seconds, **workload_detail(wl, win),
                      "setup": setup, "setup.generate_reps_s": gen_s,
                      "env": {**pinned["env"], "nproc": cpus,
                              "spark": pyspark.__version__,
                              "python": sys.version.split()[0]},
                      "end_to_end": metrics}
            if args.trace:
                twin = wins[1]
                e2e_traced = end_to_end(twin, setup_s, mem.peak_bytes)
                overhead = 100.0 * (metrics["ops_per_s"] / e2e_traced["ops_per_s"] - 1.0)
                metrics = per_layer(twin, tracer, setup, overhead, cpus)
                detail["traced_end_to_end"] = e2e_traced
                detail["trace_artifact"] = os.path.relpath(
                    tracer.write(TRACES_DIR, metrics), ROOT)
        finally:
            stop_spark(spark)
    kind = "per_layer" if args.trace else "end_to_end"
    missing = [m["name"] for m in spec[kind] if m["name"] not in metrics]
    if missing:
        raise RuntimeError(f"metrics not produced: {missing}")
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": float(metrics[m["name"]]), "unit": m["unit"]}
                    for m in spec[kind]},
    }
    return result, detail


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "datasplash_spark", "__init__.py")):
        log(f"no datasplash_spark package in {ROOT}; nothing to benchmark")
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in workloads.WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(workloads.WORKLOADS)}")
        return 2
    sys.path.insert(0, ROOT)

    os.makedirs(RUNS_DIR, exist_ok=True)
    run_dir = os.path.join(
        RUNS_DIR, f"{args.workload}-s{args.seed}-{os.getpid()}-{time.time_ns()}")
    os.makedirs(run_dir)
    try:
        result, detail = run(args, run_dir, spec)
    except Exception:  # noqa: BLE001 -- report and exit non-zero, no result line
        log(f"run failed:\n{traceback.format_exc()}")
        return 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"detail": detail}))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
