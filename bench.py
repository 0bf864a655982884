#!/usr/bin/env python
"""Benchmark harness: run the headline query corpus at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and print ONE JSON line:

    {"metric": "corpus_wall", "value": N, "unit": "sec",
     "queries": {"pricing_summary": sec, ...}, "sf": ...}

(keys are the registry names from ``queries()`` plus the four
``bench_*_store_probe`` entries). Per-entry timing = full plan →
action (count) wall time, after untimed warm-up actions that absorb
session, JVM, Python-worker and codegen startup. Every entry runs
exactly TWICE through :func:`_timed` and reports the min wall (and
the min executor cpu), with :func:`_hygiene` after each rep. No
spike guard re-times anything: the host-load spikes earlier rounds
guarded against were heap page-fault storms, fixed at the source by
the pinned, pretouched heap in ``make_session`` (AlwaysPreTouch).

Full walls and per-entry executor CPU seconds (``cpu``) land in the
local artifact ``BENCH_LOCAL_r{round}_c{slots}.json``. Caveat on the
cpu column: executorCpuTime is the JVM task thread only —
Python-worker compute (mapInPandas stages) shows up in wall but not
cpu, so for object-mode/codec queries treat wall−cpu as the
Python+load bucket and compare cpu only at the same slot count. A
failing entry records -1 for its key and the run continues — the
JSON line is always emitted.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from datasplash_spark import queries as Q
from datasplash_spark.pipeline import PipelineOptions, make_session


def _stage_rows(spark) -> dict:
    """One read of the JVM AppStatusStore stage list:
    ``{(stage_id, attempt): (executorRunTime ms, executorCpuTime ns,
    complete tasks, name)}``. Values are cumulative per stage attempt,
    so deltas between two reads are taken PER STAGE ID and the store's
    stage eviction cannot corrupt them: an evicted completed stage
    merely disappears, it never changes."""
    gw = spark.sparkContext._gateway
    store = spark._jsparkSession.sparkContext().statusStore()
    empty = gw.jvm.java.util.ArrayList()
    quant = gw.new_array(gw.jvm.double, 0)
    out = {}
    it = store.stageList(empty, False, False, quant, empty).iterator()
    while it.hasNext():
        sd = it.next()
        out[(sd.stageId(), sd.attemptId())] = (
            sd.executorRunTime(),
            sd.executorCpuTime(),
            sd.numCompleteTasks(),
            str(sd.name()),
        )
    return out


def _cpu_meter(spark):
    """A zero-arg callable yielding ``{(stage_id, attempt): cpu_ns}``
    from :func:`_stage_rows`, or ``None`` (wall-only) if the py4j
    surface is unavailable. Executor cpu separates "host was busy"
    from "code got slower" at one slot count."""
    try:
        _stage_rows(spark)  # probe the call shape once, fail fast
    except Exception as e:
        print(f"# cpu-meter unavailable ({e}); wall-only", file=sys.stderr)
        return None
    return lambda: {k: v[1] for k, v in _stage_rows(spark).items()}


def _hygiene(spark) -> None:
    """Inter-measurement cleanup (untimed): queries that persist
    intermediates (LSH banded tables, object-mode side-output
    routing, localCheckpoint rounds in the CC loop) would otherwise
    leak storage blocks into later timings, and 141 queries in one
    JVM accumulate GC debt that lands as multi-second pauses inside
    whichever query triggers the full GC — pay it between
    measurements instead. Must never fail the bench."""
    try:
        spark.catalog.clearCache()
        for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist(False)
        import gc

        gc.collect()
        spark.sparkContext._jvm.System.gc()
    except Exception as e:
        print(f"# cleanup warning: {e}", file=sys.stderr)


def _timed(spark, run, meter) -> tuple[float, float]:
    """The bench's one timing policy: call ``run`` exactly twice,
    :func:`_hygiene` after each rep, and return ``(wall_s, cpu_s)``,
    the min wall and the min executor cpu over the two reps (cpu is
    -1 when ``meter`` is None). ``meter`` is a :func:`_cpu_meter`
    snapshot callable."""
    walls, cpus = [], []
    for _ in range(2):
        snap0 = meter() if meter else None
        t0 = time.time()
        run()
        walls.append(time.time() - t0)
        if snap0 is not None:
            snap1 = meter()
            cpus.append(sum(v - snap0.get(k, 0) for k, v in snap1.items()) / 1e9)
        _hygiene(spark)
    return round(min(walls), 3), round(min(cpus), 3) if cpus else -1.0


def warm_modules() -> list[str]:
    """Every module a Python-kernel query imports inside a worker:
    all of ``datasplash_spark.functions`` (derived from the package,
    so a new module is never missed) plus the object-mode layer and
    the archive source."""
    import pkgutil

    from datasplash_spark import functions

    return [
        f"datasplash_spark.functions.{m.name}"
        for m in pkgutil.iter_modules(functions.__path__)
    ] + ["datasplash_spark.objectmode", "datasplash_spark.sources.archives"]


def warm_workers(spark) -> None:
    """Spawn the Python worker pool (one task per slot) and import
    :func:`warm_modules` in each worker, untimed. Without it the first
    Python-kernel query of a session pays the numpy/pandas + codec
    import in every reused worker (measured 39 s on code_extract's
    cold rep vs 0.96 s warm at 32 slots)."""
    mods = warm_modules()

    def _import_all(it):
        import importlib

        import numpy  # noqa: F401
        import pandas  # noqa: F401

        for m in mods:
            importlib.import_module(m)
        yield from it

    cpus = spark.sparkContext.defaultParallelism
    spark.range(0, cpus, 1, cpus).mapInPandas(_import_all, "id long").count()


def _emit(payload: dict) -> None:
    """Print the driver lines. A ~60-byte compact line with the
    headline totals comes first; it has no "metric" key, so a parser
    scanning for the corpus_wall line cannot pick it up. The full
    payload (~6 KB at 177 entries) is printed LAST, because the driver
    parses the last JSON line of stdout."""
    print(
        json.dumps(
            {
                "value": payload["value"],
                "n": len(payload["queries"]),
                "failed": payload["failed"],
            }
        )
    )
    print(json.dumps(payload))


def _local_artifact(here: str, rnd: int, slots: int) -> str:
    """The full-timings artifact of round ``rnd`` at ``slots`` task
    slots (``defaultParallelism``): runs at different slot counts
    land side by side, never in each other's file."""
    return os.path.join(here, f"BENCH_LOCAL_r{rnd:02d}_c{slots}.json")


def _store_probes(spark, sf_dir: str, root: str) -> dict:
    """ANN/postings store probes (bench-only entries, VERDICT r4 item
    5): the materialize_ivf / materialize_lsh stores are plan-pinned
    for partition pruning at toy size; these time REAL probes against
    stores built under ``root`` from the bench corpus, so a pruning
    regression shows up as a BENCH number, not just plan text. Store
    build is untimed (write-time cost, amortized across jobs — the
    stores' whole point); each returned callable runs 8 sequential
    single-query probes, the latency-sensitive serving shape."""
    from datasplash_spark.functions import similarity as sim
    from datasplash_spark.functions import text as tx

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    qvecs = [
        [float(x) for x in r.embedding]
        for r in emb.orderBy("vec_id").limit(8).collect()
    ]
    ivf, lsh, qivf, post = (
        os.path.join(root, n) for n in ("ivf", "lsh", "qivf", "postings")
    )
    cents = sim.materialize_ivf(emb, ivf, n_cells=16)
    sim.materialize_lsh(emb, lsh, bits=6)
    # int8-quantized IVF store (round 6): same pruned probes over the
    # 4×-smaller code stream, integer-dot scoring
    sim.materialize_ivf(emb, qivf, n_cells=16, centroids=cents, quantize=True)
    # inverted-index store (round 6): BM25 probes that open only the
    # query terms' buckets — the text-retrieval member of the family
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    tx.materialize_postings(docs, post, n_buckets=32)
    terms = [
        ["data", "model"], ["training", "corpus"], ["quality", "filter"],
        ["token", "count"], ["language", "text"], ["sample", "random"],
        ["search", "index"], ["spark", "scale"],
    ]

    def ivf_probe(path):
        return lambda: sum(
            sim.ivf_topk_from_store(
                spark, path, qv, k=10, nprobe=4, centroids=cents
            ).count()
            for qv in qvecs
        )

    return {
        "bench_ivf_store_probe": ivf_probe(ivf),
        "bench_lsh_store_probe": lambda: sum(
            sim.lsh_topk_from_store(spark, lsh, qv, k=10, bits=6, nprobe=4).count()
            for qv in qvecs
        ),
        "bench_qivf_store_probe": ivf_probe(qivf),
        "bench_postings_store_probe": lambda: sum(
            tx.bm25_from_store(spark, post, qt).count() for qt in terms
        ),
    }


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).removeprefix("sf")
    try:
        sf_num: float | str = float(sf)
    except ValueError:
        sf_num = sf

    spark = make_session(
        PipelineOptions(
            app_name="datasplash-spark-bench",
            # keep the status store small so per-query CPU snapshots
            # iterate ≤64 stages (the per-stage-ID delta accounting
            # is eviction-proof, so a low cap costs nothing)
            extra_conf={"spark.ui.retainedStages": "64"},
        )
    )
    meter = _cpu_meter(spark)
    try:
        # warm-up: JVM codegen + parquet footer caches + the shuffle
        # machinery (first exchange of a session pays one-off setup
        # that would otherwise land on the first measured query)
        warm = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
        warm.groupBy("l_returnflag").count().count()
        warm_workers(spark)
        # whole-stage-codegen warm-up for the LSH/shingle expression
        # family on a 50-doc sample: compiling those large generated
        # classes is multi-second one-time session setup that would
        # otherwise land entirely inside whichever dedup query runs
        # first (measured ~6 s on the first LSH query, 0 after)
        from datasplash_spark.functions import dedup as _dd

        _docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        _docs.count()  # footer + page cache for the corpus table
        # cache=True mirrors the corpus queries' actual plan (banded
        # table → InMemoryRelation → bucketed self-join): the cached
        # path codegens different stages than the uncached one
        _warm_pairs = _dd.lsh_candidate_pairs(
            _docs.limit(50), num_hashes=16, bands=4, k=3, seed=42, cache=True
        )
        _warm_pairs.count()
        # driver-side CC machinery on a 3-edge toy graph: the first
        # collect → createDataFrame round-trip, the LocalTableScan
        # broadcast, and the decimal(38,0) aggregate each JIT/codegen
        # once per session (measured ~several seconds landing inside
        # whichever clustering query runs first)
        from datasplash_spark.functions.graph import connected_components

        _edges = spark.createDataFrame(
            [(1, 2), (2, 3), (4, 5)], "src long, dst long"
        )
        _docs.limit(50).join(
            connected_components(_edges).withColumnRenamed(
                "node", "doc_id"
            ),
            "doc_id",
            "left",
        ).count()
        # embedding-expression family: the zip_with/aggregate HOF
        # evaluators and the K×dim literal centroid fold compile once
        # per session (several seconds that would otherwise land in
        # the first similarity/semantic-dedup query); a 10-vector
        # run-through of the real operator covers it
        from datasplash_spark.functions import similarity as _sim

        _emb = spark.read.parquet(
            os.path.join(sf_dir, "embeddings.parquet")
        )
        _emb.count()  # footer + page cache
        # run the real operator on a 10-vector sample so the warm-up
        # compiles exactly the evaluators the corpus queries use and
        # can't rot out of sync with the operator's expression shape
        _s = _emb.limit(10)
        _sim.semantic_dedup(
            _s, eps=0.3, centroids=_sim.ivf_centroids(_s, 4)
        ).count()
        # contrastive-pair expression family (min_by negative
        # aggregates + the double-sided cell join) compiles once per
        # session; a 10-vector run-through covers it
        _sim.contrastive_pairs(
            _s, n_cells=4, centroids=_sim.ivf_centroids(_s, 4)
        ).count()
        # window-function codegen (rank/row_number family)
        from pyspark.sql import Window as _W
        from pyspark.sql import functions as _F

        _docs.limit(50).select(
            _F.row_number()
            .over(_W.partitionBy("source").orderBy("doc_id"))
            .alias("rk")
        ).count()
        spark.catalog.clearCache()
    except Exception as e:
        print(f"# warm-up failed ({e}); continuing", file=sys.stderr)

    timings: dict[str, float] = {}
    cpu_times: dict[str, float] = {}
    failed: list[str] = []

    def record(name: str, run) -> None:
        try:
            wall, cpu = _timed(spark, run, meter)
        except Exception as e:  # record and continue; always emit JSON
            timings[name] = -1.0
            failed.append(name)
            print(f"# {name}: FAILED ({e})", file=sys.stderr)
            return
        timings[name] = wall
        if cpu >= 0:
            cpu_times[name] = cpu
        print(
            f"# {name}: {wall:.2f}s wall / {cpu:.2f}s cpu (min of 2)",
            file=sys.stderr,
        )

    store_root = tempfile.mkdtemp(prefix="bench_ann_stores_")
    try:
        probes = _store_probes(spark, sf_dir, store_root)
    except Exception as e:
        probes = {}
        for name in ("ivf", "lsh", "qivf", "postings"):
            timings[f"bench_{name}_store_probe"] = -1.0
        failed.append("bench_ann_store_probe")
        print(f"# bench ANN store probe: FAILED ({e})", file=sys.stderr)
    for name, run in probes.items():
        record(name, run)
    shutil.rmtree(store_root, ignore_errors=True)

    for name, fn in Q.queries().items():
        record(name, lambda fn=fn: fn(spark, sf_dir).count())

    # a partially-failing run must not read as a faster full run:
    # failures are named, and the headline value is poisoned
    total = sum(v for v in timings.values() if v >= 0)
    payload = {
        "metric": "corpus_wall",
        "value": round(total, 3) if not failed else -1.0,
        "unit": "sec",
        "queries": timings,
        "failed": failed,
        "sf": sf_num,
    }
    # Persist the FULL per-query timings to a round-stamped local
    # artifact (VERDICT r5 item 3: the driver's tail capture
    # truncated ~30 of the printed timings in r4 AND r5 — the
    # printed line stays the full driver contract, the file is the
    # loss-proof history). Round = 1 + highest driver-recorded
    # BENCH_rNN.json in the repo root; the name also carries the slot
    # count (_local_artifact). The cpu column lives only here, not in
    # the printed driver line (tail-capture length).
    try:
        here = os.path.dirname(os.path.abspath(__file__))
        rnd = 1 + max(
            [
                int(m.group(1))
                for f in os.listdir(here)
                if (m := re.fullmatch(r"BENCH_r(\d+)\.json", f))
            ]
            or [0]
        )
        local = _local_artifact(here, rnd, spark.sparkContext.defaultParallelism)
        with open(local, "w") as fh:
            json.dump({**payload, "cpu": cpu_times}, fh, indent=1, sort_keys=True)
        print(f"# full timings -> {local}", file=sys.stderr)
    except Exception as e:  # the artifact must never fail the bench
        print(f"# local artifact warning: {e}", file=sys.stderr)
    _emit(payload)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
