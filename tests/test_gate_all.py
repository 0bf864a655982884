"""Out-of-window regression tripwire (VERDICT r5 item 7).

The external driver gates only the FIRST 50 registry entries per
round, so a regression in an out-of-window query would otherwise go
unseen for up to two rounds. This test runs the driver-faithful
comparison (scripts/check_oracle.run_gate — dtype-sensitive canonical
hash, the same pipeline the driver uses) over EVERY oracle-paired
registry query at sf0.01 inside plain ``pytest tests/``, so any
oracle mismatch fails CI immediately.

Set ``SPARK_GRAFT_SKIP_GATE=1`` to skip during quick local
iteration (the driver and CI never set it).
"""

from __future__ import annotations

import os
import sys

import pytest

_SCRIPTS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"
)
if _SCRIPTS not in sys.path:
    sys.path.insert(0, _SCRIPTS)

GATE_SF_DIR = os.environ.get("SPARK_GRAFT_GATE_SF_DIR", "/root/testdata/sf0.01")


@pytest.mark.skipif(
    os.environ.get("SPARK_GRAFT_SKIP_GATE") == "1",
    reason="explicitly skipped for quick local iteration",
)
@pytest.mark.skipif(
    not os.path.isdir(GATE_SF_DIR), reason="gate testdata not present"
)
def test_every_oracle_paired_query_matches_duckdb(spark):
    import time

    from check_oracle import oracle_views, run_gate

    t0 = time.time()
    lines: list[str] = []
    # workers=8 (round 10, VERDICT r9 item 6): Spark's local
    # scheduler takes concurrent jobs from driver threads and DuckDB
    # hands out per-thread cursors, cutting the gate from ~20 min
    # serial to a few minutes; detection is order-independent, so
    # parallelism changes wall time, never the verdict.
    failures = run_gate(
        spark, oracle_views(GATE_SF_DIR), GATE_SF_DIR,
        echo=lines.append, workers=8,
    )
    detail = "\n".join(
        l for l in lines if l.startswith(("FAIL", "ERR"))
    )
    assert failures == [], f"gate regressions: {failures}\n{detail}"
    # wall-time budget (VERDICT r10 item 8): the parallel gate runs
    # in ~1-2 min at sf0.01; if new queries push it past 4 min the
    # whole suite silently re-inflates toward the pre-parallel 20
    # min. Fail loudly so the cost is priced when it appears, not
    # discovered at judge time. (Generous 2x headroom over the
    # currently observed ~100 s to absorb host drift.)
    elapsed = time.time() - t0
    assert elapsed < 240, (
        f"full-registry gate took {elapsed:.0f}s (budget 240s): new "
        "queries have re-inflated the suite — raise workers, trim "
        "the query, or retire a gated row"
    )
