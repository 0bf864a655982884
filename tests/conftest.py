from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from datasplash_spark.pipeline import PipelineOptions, make_session

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    # the tests read sf0.001: a 2g heap (the benchmark harness's) instead
    # of make_session's pre-touched 12g default; a caller's value wins
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    session = make_session(
        PipelineOptions(
            app_name="datasplash-spark-tests",
            # small local shuffle for tiny test data
            shuffle_partitions=8,
            extra_conf={"spark.sql.warehouse.dir": "/tmp/spark-warehouse-tests"},
        )
    )
    yield session
    session.stop()


@pytest.fixture(scope="session")
def tables(spark):
    from datasplash_spark.pipeline import load_tables

    return load_tables(spark, SF_DIR)


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow: exhaustive stress/parity twin of a faster default test; "
        "excluded from the default run (enable with --runslow or "
        "RUN_SLOW=1) so `pytest tests/` stays inside the documented "
        "wall budget — every slow test has a sibling covering the "
        "same code path in the default set",
    )


def pytest_addoption(parser):
    parser.addoption(
        "--runslow",
        action="store_true",
        default=False,
        help="also run tests marked slow (the exhaustive sweep)",
    )


def pytest_collection_modifyitems(config, items):
    if config.getoption("--runslow") or os.environ.get("RUN_SLOW") == "1":
        return
    skip = pytest.mark.skip(
        reason="slow twin — run with --runslow (or RUN_SLOW=1)"
    )
    for item in items:
        if "slow" in item.keywords:
            item.add_marker(skip)
