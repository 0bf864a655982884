"""The bench's stdout contract: the driver parses the LAST JSON line of
``bench.py``'s stdout as the corpus_wall payload."""

from __future__ import annotations

import json


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
    """A run writes only its own slot count's artifact and compares
    only against an earlier round at the same slot count."""
    import bench

    here = str(tmp_path)
    assert bench._local_artifact(here, 15, 8).endswith(
        "BENCH_LOCAL_r15_c8.json"
    )
    for name in (
        "BENCH_LOCAL_r13_c8.json",
        "BENCH_LOCAL_r14_c8.json",
        "BENCH_LOCAL_r14_c32.json",
        "BENCH_LOCAL_r15_c8.json",  # the round being stamped
        "BENCH_LOCAL_r14.json",  # unlabelled: slot count unknown
    ):
        (tmp_path / name).write_text("{}")
    prev = bench._prev_local_artifact
    assert prev(here, 15, 8) == str(tmp_path / "BENCH_LOCAL_r14_c8.json")
    assert prev(here, 15, 32) == str(tmp_path / "BENCH_LOCAL_r14_c32.json")
    assert prev(here, 14, 8) == str(tmp_path / "BENCH_LOCAL_r13_c8.json")
    assert prev(here, 14, 32) is None
    assert prev(here, 15, 4) is None
