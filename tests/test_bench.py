"""The bench's stdout contract: the driver parses the LAST JSON line of
``bench.py``'s stdout as the corpus_wall payload."""

from __future__ import annotations

import json
import time
from pathlib import Path


def test_bench_last_json_line_is_driver_payload(capsys):
    import bench

    payload = {
        "metric": "corpus_wall",
        "value": 3.5,
        "unit": "sec",
        "queries": {"pricing_summary": 1.5, "keep": 2.0},
        "failed": [],
        "sf": 0.1,
    }
    bench._emit(payload)
    lines = [ln for ln in capsys.readouterr().out.splitlines() if ln.strip()]
    last = json.loads(lines[-1])
    assert "metric" in last
    assert last == payload
    compact = json.loads(lines[0])
    assert compact == {"value": 3.5, "n": 2, "failed": []}


def test_local_artifact_names_carry_slot_count(tmp_path):
    """A run writes only its own slot count's artifact."""
    import bench

    here = str(tmp_path)
    assert bench._local_artifact(here, 15, 8).endswith(
        "BENCH_LOCAL_r15_c8.json"
    )
    assert bench._local_artifact(here, 15, 32).endswith(
        "BENCH_LOCAL_r15_c32.json"
    )


def test_timed_is_fixed_min_of_two():
    """Every entry runs exactly twice and keeps the min wall and the
    min executor cpu; without a meter the cpu column reads -1."""
    import bench

    calls = []
    sleeps = iter([0.0, 0.05])  # the faster wall is the first rep

    def run():
        calls.append(1)
        time.sleep(next(sleeps))

    # cumulative per-stage cpu ns, read before and after each rep:
    # rep 1 adds 3 s on stage 0, rep 2 adds 1 s on a new stage 1, so
    # the smaller cpu is the second rep's
    snaps = iter(
        [{(0, 0): 0}, {(0, 0): 3e9}, {(0, 0): 3e9}, {(0, 0): 3e9, (1, 0): 1e9}]
    )
    wall, cpu = bench._timed(None, run, lambda: next(snaps))
    assert len(calls) == 2
    assert wall < 0.05
    assert cpu == 1.0

    calls.clear()
    sleeps = iter([0.0, 0.0])
    wall, cpu = bench._timed(None, run, None)
    assert len(calls) == 2
    assert wall >= 0 and cpu == -1.0


def test_warm_workers_cover_every_functions_module():
    """The worker warm-up imports every ``datasplash_spark/functions``
    module, so a new kernel module cannot run its first query cold."""
    import bench

    pkg = Path(__file__).resolve().parent.parent / "datasplash_spark" / "functions"
    want = {
        f"datasplash_spark.functions.{p.stem}"
        for p in pkg.glob("*.py")
        if p.stem != "__init__"
    }
    assert len(want) >= 34
    assert want <= set(bench.warm_modules())
