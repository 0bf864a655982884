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
