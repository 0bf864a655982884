#!/usr/bin/env python3
"""Layer report: rank each workload's operations by the self time of
their dominant layer, from traced-run artifacts.

Usage (from the repository root):

    python3 pipebench/report.py .pipebench_traces/trace-*.json

For every operation name the report averages, over its traced runs,
the self time of each layer:

- ``build``    -- the package call that builds the plan, minus jobs it
  ran eagerly;
- ``catalyst`` -- analysis + optimization + planning of the run Dataset;
- ``gap``      -- action wall covered by no Spark job, minus Catalyst
  (result transfer, Python-side work between jobs, scheduling gaps);
- ``jvm``, ``seam``, ``shuffle``, ``gc`` -- wall covered by the
  operation's jobs, split in proportion to the task-time components
  (executor run time less the Python seam, shuffle write/fetch wait
  and GC time).

Operations are listed by the self time of their largest layer, largest
first.
"""

from __future__ import annotations

import argparse
import json
import statistics
from collections import defaultdict

from tracing import covered_s

LAYERS = ("build", "catalyst", "gap", "jvm", "seam", "shuffle", "gc")


def _covered_ms(spans: list[dict], parent: int) -> float:
    """Milliseconds of the union of job spans under ``parent``."""
    return covered_s([(j["start"], j["end"]) for j in spans if j["parent"] == parent]) * 1e3


def layer_self_ms(op: dict, spans: list[dict]) -> dict[str, float]:
    """Self time (ms) of each layer for one traced operation."""
    c = op["counters"]
    mine = [s for s in spans if s["op_id"] == op["op_id"]]
    by_name = {s["name"]: s for s in mine if s["parent"] is not None and s["name"] in ("build", "action")}
    jobs = [s for s in mine if s["name"].startswith("job ")]
    build_jobs = _covered_ms(jobs, by_name["build"]["id"]) if "build" in by_name else 0.0
    action_jobs = _covered_ms(jobs, by_name["action"]["id"]) if "action" in by_name else 0.0
    catalyst = c["catalyst.analysis_ms"] + c["catalyst.optimization_ms"] + c["catalyst.planning_ms"]
    seam = c["seam.boot_ms"] + c["seam.init_ms"] + c["seam.compute_ms"]
    shuffle = c["shuffle.write_ms"] + c["shuffle.fetch_wait_ms"]
    gc = c["jvm.gc_ms"]
    run = max(c["jvm.run_ms"], seam + shuffle + gc)
    job_wall = build_jobs + action_jobs
    share = (lambda x: job_wall * x / run) if run else (lambda x: 0.0)
    return {
        "build": max(0.0, c["build_ms"] - build_jobs),
        "catalyst": catalyst,
        "gap": max(0.0, c["sched.gap_ms"] - catalyst),
        "jvm": share(max(0.0, run - seam - shuffle - gc)) if run else job_wall,
        "seam": share(seam),
        "shuffle": share(shuffle),
        "gc": share(gc),
    }


def report(paths: list[str]) -> str:
    lines = []
    for path in paths:
        with open(path) as f:
            art = json.load(f)
        meta = art["meta"]
        per_op: dict[str, list[dict[str, float]]] = defaultdict(list)
        walls: dict[str, list[float]] = defaultdict(list)
        for op in art["ops"]:
            per_op[op["name"]].append(layer_self_ms(op, art["spans"]))
            walls[op["name"]].append(op["wall_s"] * 1e3)
        rows = []
        for name, runs in per_op.items():
            mean = {k: statistics.fmean(r[k] for r in runs) for k in LAYERS}
            top = max(LAYERS, key=mean.get)
            rows.append((mean[top], name, top, len(runs), statistics.median(walls[name]), mean))
        rows.sort(reverse=True)
        lines.append(f"# {meta['workload']} seed={meta['seed']}  ({path})")
        lines.append(f"{'rank':>4} {'operation':38} {'runs':>4} {'wall_ms':>9} "
                     f"{'dominant':>9} {'self_ms':>9}  " + " ".join(f"{k:>8}" for k in LAYERS))
        for rank, (self_ms, name, top, n, wall, mean) in enumerate(rows, 1):
            lines.append(f"{rank:>4} {name:38} {n:>4} {wall:>9.1f} {top:>9} {self_ms:>9.1f}  "
                         + " ".join(f"{mean[k]:>8.1f}" for k in LAYERS))
        lines.append("")
    return "\n".join(lines)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="Rank traced operations by dominant layer.")
    ap.add_argument("artifacts", nargs="+", help="trace-*.json files written by run.py --trace 1")
    print(report(ap.parse_args(argv).artifacts))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
