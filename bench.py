#!/usr/bin/env python
"""Benchmark harness: run the headline query corpus at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and print ONE JSON line:

    {"metric": "corpus_wall", "value": N, "unit": "sec",
     "queries": {"pricing_summary": sec, ...}, "sf": ...}

(keys are the registry names from ``queries()``). Per-query timing =
full plan → action (count) wall time, after a warm-up action that
absorbs session + JVM startup. Queries under 3 s run TWICE and
report the MIN (VERDICT r6 item 4 + r7 item 3: with ~150 queries in
one JVM, scheduler/GC density injects spikes that read as fake 1.5×
regressions; round 7's two ambiguous movers — stateful_distinct_types
0.88→1.49 s, bpe_tokenize 2.07→2.48 s — both sat in the former
single-rep 1–3 s band, so the band is now min-of-2 too). Queries ≥3 s
stay single-rep to bound total wall UNLESS their first rep deviates
more than 1.5× from the previous round's BENCH_LOCAL value — then a
confirmation rep runs, so every >1.5× mover in the artifact carries
≥2 reps by construction. A final SPIKE-ESCAPE pass re-runs every
remaining >1.5× mover once more at the END of the run (round 8
measured a multi-minute external host-load event sweeping contiguous
registry positions — both min-of-2 reps can sit inside one spike; a
rep minutes later escapes it, while genuine regressions survive all
three reps). Rep counts land in the local artifact (``reps``), as
does per-query executor CPU time (``cpu``, VERDICT r8 item 5: CPU
time is nearly immune to the ambient host-load sweeps that moved
wall ±20% in rounds 7-8 — when a wall number moves round-over-round,
compare the cpu column first). Caveat: executorCpuTime is the JVM
task thread only — Python-worker compute (mapInPandas stages) shows
up in wall but not cpu, so for object-mode/codec queries compare the
cpu column ACROSS ROUNDS (a JVM-side regression still moves it) and
treat wall−cpu as the Python+load bucket. A failing query records -1
for that key and the run continues — the JSON line is always
emitted.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from datasplash_spark import queries as Q
from datasplash_spark.pipeline import PipelineOptions, make_session


def _make_cpu_meter(spark):
    """Executor-CPU-time snapshotter over the JVM AppStatusStore
    (VERDICT r8 item 5): wall time on this shared host carries
    multi-minute ambient load sweeps (the r7/r8 spike forensics each
    cost a day), while task CPU time barely moves under external
    load — recording both separates "host was busy" from "code got
    slower" instantly. Returns a zero-arg callable yielding
    ``{(stage_id, attempt): cpu_ns}``; deltas are computed PER STAGE
    ID so the status store's stage eviction (retention capped below)
    cannot corrupt totals — an evicted completed stage merely
    disappears, it never changes. Returns ``None`` (and the bench
    degrades to wall-only) if the py4j surface is unavailable."""
    try:
        gw = spark.sparkContext._gateway
        store = spark._jsparkSession.sparkContext().statusStore()
        empty = gw.jvm.java.util.ArrayList()
        quant = gw.new_array(gw.jvm.double, 0)

        def snapshot() -> dict:
            out = {}
            it = store.stageList(empty, False, False, quant, empty).iterator()
            while it.hasNext():
                sd = it.next()
                out[(sd.stageId(), sd.attemptId())] = sd.executorCpuTime()
            return out

        snapshot()  # probe the call shape once, fail fast
        return snapshot
    except Exception as e:
        print(f"# cpu-meter unavailable ({e}); wall-only", file=sys.stderr)
        return None


def _cpu_delta_s(prev: dict, cur: dict) -> float:
    """CPU seconds attributable to stages that appeared or advanced
    between two snapshots."""
    return round(
        sum(v - prev.get(k, 0) for k, v in cur.items()) / 1e9, 3
    )


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


def _prev_local_artifact(here: str, cur_round: int, slots: int) -> str | None:
    """The newest :func:`_local_artifact` in ``here`` from a round
    strictly below ``cur_round`` at the SAME slot count, or None —
    walls are only comparable at one slot count. Names match on the
    basename only, so a checkout path holding ``_r<digits>`` cannot
    win the filter or the sort."""
    import re

    rounds = {
        int(m.group(1)): f
        for f in os.listdir(here)
        if (m := re.fullmatch(rf"BENCH_LOCAL_r(\d+)_c{slots}\.json", f))
        and int(m.group(1)) < cur_round
    }
    return os.path.join(here, rounds[max(rounds)]) if rounds else None


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
    cpu_snapshot = _make_cpu_meter(spark)
    cpu_times: dict[str, float] = {}
    try:
        # warm-up: JVM codegen + parquet footer caches + the shuffle
        # machinery (first exchange of a session pays one-off setup
        # that would otherwise land on the first measured query)
        warm = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
        warm.groupBy("l_returnflag").count().count()
        # spawn the Python worker pool (one per core) so Arrow-path
        # worker startup doesn't land inside the first Python query —
        # and IMPORT the kernel modules inside each worker (r14): the
        # first Python-kernel query of the session was paying the
        # numpy/pandas + codec-module import in every one of the 32
        # (reused) workers — measured 39 s on code_extract's cold rep
        # vs 0.96 s warm. One task per core, imports persist in the
        # reused workers; all untimed session setup.
        cpus = spark.sparkContext.defaultParallelism

        def _worker_warm(it):
            import importlib

            import numpy  # noqa: F401
            import pandas  # noqa: F401

            for m in (
                "calendar", "charset", "code", "doctext", "eml",
                "exif", "feeds", "flac", "gifbmp", "jpeg", "latex",
                "logtext", "markdown", "mp3ogg", "mp4", "multimodal",
                "notebook", "office", "pdf", "pdfcrypt", "rtf",
                "similarity", "subtitles", "tabular", "text", "tiff",
                "web", "wikitext",
            ):
                importlib.import_module(f"datasplash_spark.functions.{m}")
            importlib.import_module("datasplash_spark.objectmode")
            importlib.import_module("datasplash_spark.sources.archives")
            yield from it

        spark.range(0, cpus, 1, cpus).mapInPandas(
            _worker_warm, "id long"
        ).count()
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
    failed: list[str] = []
    total = 0.0

    # ANN store probes (bench-only entries, VERDICT r4 item 5): the
    # materialize_ivf / materialize_lsh stores are plan-pinned for
    # partition pruning at toy size; this times REAL probes against
    # stores built from the bench corpus so a pruning regression
    # shows up as a BENCH number, not just plan text. Store build is
    # untimed (write-time cost, amortized across jobs — the stores'
    # whole point); each timed number is 8 sequential single-query
    # probes, the latency-sensitive serving shape.
    _probe_fns: dict = {}
    _store_root = None
    try:
        import shutil
        import tempfile

        from datasplash_spark.functions import similarity as _simb

        _store_root = tempfile.mkdtemp(prefix="bench_ann_stores_")
        _embb = spark.read.parquet(
            os.path.join(sf_dir, "embeddings.parquet")
        )
        _qvecs = [
            [float(x) for x in r.embedding]
            for r in _embb.orderBy("vec_id").limit(8).collect()
        ]
        _ivf_path = os.path.join(_store_root, "ivf")
        _lsh_path = os.path.join(_store_root, "lsh")
        _cents = _simb.materialize_ivf(_embb, _ivf_path, n_cells=16)
        _simb.materialize_lsh(_embb, _lsh_path, bits=6)

        # int8-quantized IVF store (round 6): same pruned probes over
        # the 4×-smaller code stream, integer-dot scoring
        _qivf_path = os.path.join(_store_root, "qivf")
        _simb.materialize_ivf(
            _embb, _qivf_path, n_cells=16, centroids=_cents, quantize=True
        )
        # inverted-index store (round 6): BM25 probes that open only
        # the query terms' buckets — the text-retrieval member of
        # the store family
        from datasplash_spark.functions import text as _txb

        _post_path = os.path.join(_store_root, "postings")
        _docsb = spark.read.parquet(
            os.path.join(sf_dir, "documents.parquet")
        )
        _txb.materialize_postings(_docsb, _post_path, n_buckets=32)
        _queries = [
            ["data", "model"],
            ["training", "corpus"],
            ["quality", "filter"],
            ["token", "count"],
            ["language", "text"],
            ["sample", "random"],
            ["search", "index"],
            ["spark", "scale"],
        ]

        def _probe_ivf():
            return sum(
                _simb.ivf_topk_from_store(
                    spark, _ivf_path, qv, k=10, nprobe=4, centroids=_cents
                ).count()
                for qv in _qvecs
            )

        def _probe_lsh():
            return sum(
                _simb.lsh_topk_from_store(
                    spark, _lsh_path, qv, k=10, bits=6, nprobe=4
                ).count()
                for qv in _qvecs
            )

        def _probe_qivf():
            return sum(
                _simb.ivf_topk_from_store(
                    spark, _qivf_path, qv, k=10, nprobe=4, centroids=_cents
                ).count()
                for qv in _qvecs
            )

        def _probe_postings():
            return sum(
                _txb.bm25_from_store(spark, _post_path, qt).count()
                for qt in _queries
            )

        _probe_fns = {
            "bench_ivf_store_probe": _probe_ivf,
            "bench_lsh_store_probe": _probe_lsh,
            "bench_qivf_store_probe": _probe_qivf,
            "bench_postings_store_probe": _probe_postings,
        }
        for _pname, _pfn in _probe_fns.items():
            snap0 = cpu_snapshot() if cpu_snapshot else None
            t0 = time.time()
            rows = _pfn()
            dt = round(time.time() - t0, 3)
            timings[_pname] = dt
            if snap0 is not None:
                cpu_times[_pname] = _cpu_delta_s(snap0, cpu_snapshot())
            total += dt
            print(
                f"# {_pname}: {dt:.2f}s ({rows} rows, 8 probes)",
                file=sys.stderr,
            )
        # NOTE: the stores stay on disk until after the end-of-run
        # probe rep (below); cleanup happens there.
    except Exception as e:
        timings["bench_ivf_store_probe"] = -1.0
        timings["bench_lsh_store_probe"] = -1.0
        timings["bench_qivf_store_probe"] = -1.0
        timings["bench_postings_store_probe"] = -1.0
        failed.append("bench_ann_store_probe")
        print(f"# bench ANN store probe: FAILED ({e})", file=sys.stderr)

    # The round being stamped: 1 + highest driver-recorded
    # BENCH_rNN.json. Computed HERE (not only at artifact-write time)
    # because the prev-walls lookup below must exclude THIS round's
    # own BENCH_LOCAL file: the builder commits its artifact
    # mid-round, so "newest local artifact" is otherwise the current
    # round's own run and the >1.5×-mover guards compare the round to
    # itself (VERDICT r11 "What's wrong" #1 — pdf_extract shipped at
    # 2.0× its r10 wall with reps:1 because prev was its own run).
    import re as _re

    _here = os.path.dirname(os.path.abspath(__file__))
    _cur_round = 1 + max(
        [
            int(m.group(1))
            for f in os.listdir(_here)
            if (m := _re.fullmatch(r"BENCH_r(\d+)\.json", f))
        ]
        or [0]
    )

    # PREVIOUS round's per-query walls AND executor-cpu seconds, for
    # the >1.5×-mover re-rep rule (missing/failed entries simply get
    # no comparison): the newest local artifact at THIS slot count
    # whose round is STRICTLY below the round being stamped
    # (_prev_local_artifact).
    prev_walls: dict[str, float] = {}
    prev_cpu: dict[str, float] = {}
    _slots = spark.sparkContext.defaultParallelism
    try:
        _prev_local = _prev_local_artifact(_here, _cur_round, _slots)
        if _prev_local:
            with open(_prev_local) as fh:
                _prev_payload = json.load(fh)
            prev_walls = {
                k: v
                for k, v in (_prev_payload.get("queries") or {}).items()
                if isinstance(v, (int, float)) and v > 0
            }
            prev_cpu = {
                k: v
                for k, v in (_prev_payload.get("cpu") or {}).items()
                if isinstance(v, (int, float)) and v > 0
            }
            print(
                f"# prev-walls source: {os.path.basename(_prev_local)} "
                f"(stamping round {_cur_round})",
                file=sys.stderr,
            )
    except Exception as e:
        print(f"# prev-walls warning: {e}", file=sys.stderr)

    def _cpu_moved(name: str, cpu: float) -> bool:
        """True when the load-immune executor-cpu column itself moved
        >1.5× round-over-round above a 0.3 s floor (VERDICT r12 item
        2: domain_reweight's cpu doubled while the wall-only guard
        stayed quiet — the one mover the harness should have
        re-repped and adjudicated itself)."""
        p = prev_cpu.get(name)
        return (
            p is not None
            and cpu > 0.3
            and p > 0.3
            and (cpu > p * 1.5 or cpu < p / 1.5)
        )

    reps: dict[str, int] = {}
    for name, fn in Q.queries().items():
        best = -1.0
        best_cpu = -1.0
        n = -1
        prev = prev_walls.get(name)
        try:
            for rep in range(2):
                snap0 = cpu_snapshot() if cpu_snapshot else None
                t0 = time.time()
                n = fn(spark, sf_dir).count()
                dt = time.time() - t0
                if snap0 is not None:
                    c = _cpu_delta_s(snap0, cpu_snapshot())
                    best_cpu = c if rep == 0 else min(best_cpu, c)
                best = dt if rep == 0 else min(best, dt)
                reps[name] = rep + 1
                _hygiene(spark)
                moved = prev is not None and (
                    best > prev * 1.5 or best < prev / 1.5
                )
                if (
                    best >= 3.0
                    and prev is not None
                    and not moved
                    and not _cpu_moved(name, best_cpu)
                ):
                    # real regressions on ≥3s queries clear the noise
                    # floor on their own; don't double total wall —
                    # but any >1.5× round-over-round mover (wall OR
                    # the load-immune cpu column) gets a confirmation
                    # rep regardless of band, and a query NEW this
                    # round (no prev wall to adjudicate against)
                    # always gets its second rep: r13 measured a
                    # first-position cold spike stamp a new query at
                    # 13.4 s wall / 2.8 s cpu with min-of-1 (true
                    # warm wall ~1 s) and no guard could catch it
                    break
        except Exception as e:  # record and continue; always emit JSON
            timings[name] = -1.0
            failed.append(name)
            print(f"# {name}: FAILED ({e})", file=sys.stderr)
            continue
        dt = round(best, 3)
        timings[name] = dt
        if best_cpu >= 0:
            cpu_times[name] = best_cpu
        total += dt
        print(
            f"# {name}: {dt:.2f}s wall / {best_cpu:.2f}s cpu "
            f"({n} rows, min of {reps[name]})",
            file=sys.stderr,
        )

    # Spike-escape pass (round 8): three same-code runs measured a
    # multi-minute EXTERNAL load event sweeping a contiguous band of
    # registry positions at a different offset each run (semantic_pack
    # 1.03→19.05 s with BOTH reps inside the spike — min-of-2 cannot
    # help when the spike outlasts the pair). Any query that still
    # reads >1.5× its previous-round wall gets ONE more rep here, at
    # the end of the run — minutes away from whichever spike hit its
    # original slot — and keeps the min. Genuine regressions survive
    # (a third rep of truly-slower code is still slower); transient
    # spikes wash out.
    suspects = [
        k
        for k, v in timings.items()
        if v > 0
        and (
            (prev_walls.get(k) and v > prev_walls[k] * 1.5)
            or _cpu_moved(k, cpu_times.get(k, -1.0))
            # a query NEW this round has no prev wall to compare —
            # admit it when the wall dwarfs its own executor cpu
            # (pure scheduler/host stall, the load-spike signature;
            # a genuinely slow new query re-measures slow and keeps
            # its number)
            or (
                prev_walls.get(k) is None
                and v >= 3.0
                and v > 3 * max(cpu_times.get(k, 0.0), 0.5)
            )
        )
    ]
    for name in suspects:
        fn = Q.queries().get(name)
        if fn is None:
            continue
        try:
            snap0 = cpu_snapshot() if cpu_snapshot else None
            t0 = time.time()
            fn(spark, sf_dir).count()
            dt = time.time() - t0
            if snap0 is not None:
                c = _cpu_delta_s(snap0, cpu_snapshot())
                if name in cpu_times:
                    cpu_times[name] = min(cpu_times[name], c)
            _hygiene(spark)
        except Exception as e:
            print(f"# spike-escape {name}: FAILED ({e})", file=sys.stderr)
            continue
        if dt < timings[name]:
            total -= timings[name] - round(dt, 3)
            timings[name] = round(dt, 3)
        reps[name] = reps.get(name, 0) + 1
        print(
            f"# spike-escape {name}: {dt:.2f}s "
            f"(kept {timings[name]:.2f}s, prev round wall "
            f"{prev_walls.get(name, -1.0):.2f}s / cpu "
            f"{prev_cpu.get(name, -1.0):.2f}s)",
            file=sys.stderr,
        )

    # Store probes run FIRST in the suite (cold codegen, first real
    # jobs of the session) and have no prev-wall guard — a host-load
    # spike at session start hit all four at once in r13 (28.4 s
    # combined vs 9.8 s isolated on an idle host). Every probe gets
    # ONE more timed pass here, minutes away from the front of the
    # run, and keeps the min — the same min-of-2 every registry
    # query gets. The stores are only deleted after this pass.
    for _pname, _pfn in _probe_fns.items():
        if timings.get(_pname, -1.0) <= 0:
            continue
        try:
            snap0 = cpu_snapshot() if cpu_snapshot else None
            t0 = time.time()
            _pfn()
            dt = time.time() - t0
            if snap0 is not None:
                c = _cpu_delta_s(snap0, cpu_snapshot())
                if _pname in cpu_times:
                    cpu_times[_pname] = min(cpu_times[_pname], c)
            _hygiene(spark)
        except Exception as e:
            print(f"# probe-rep {_pname}: FAILED ({e})", file=sys.stderr)
            continue
        if dt < timings[_pname]:
            total -= timings[_pname] - round(dt, 3)
            timings[_pname] = round(dt, 3)
        reps[_pname] = 2
        print(
            f"# probe-rep {_pname}: {dt:.2f}s (kept {timings[_pname]:.2f}s)",
            file=sys.stderr,
        )
    if _store_root:
        import shutil as _shutil

        _shutil.rmtree(_store_root, ignore_errors=True)

    # a partially-failing run must not read as a faster full run:
    # failures are named, and the headline value is poisoned
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
    # count (_local_artifact).
    try:
        # same round the prev-walls lookup used (computed once,
        # before the query loop)
        local = _local_artifact(_here, _cur_round, _slots)
        with open(local, "w") as fh:
            # reps lives only here, NOT in the printed driver line —
            # the driver's tail capture already truncates long lines
            # reps + per-query executor CPU seconds live only here,
            # NOT in the printed driver line (tail-capture length);
            # cpu is the host-load-immune column — compare IT first
            # when a wall number moves round-over-round
            json.dump(
                {**payload, "reps": reps, "cpu": cpu_times},
                fh, indent=1, sort_keys=True,
            )
        print(f"# full timings -> {local}", file=sys.stderr)
    except Exception as e:  # the artifact must never fail the bench
        print(f"# local artifact warning: {e}", file=sys.stderr)
    _emit(payload)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
