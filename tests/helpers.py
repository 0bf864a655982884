"""Test-suite shim over the SHIPPED testing API: the PAssert-style
assertion surface now lives in ``datasplash_spark.testing`` (the
user-facing analog of the reference's datasplash.testing namespace,
testing/assert.clj:16-105); the suite consumes the same functions a
user would. It also holds the suite's SQL-execution listing helpers.
"""

from __future__ import annotations

from datasplash_spark.testing import (  # noqa: F401
    as_map,
    as_multimap,
    contains_only,
    equals_to,
    is_empty,
    rows_multiset,
    satisfies,
)


def _sql_executions(spark):
    """``(id, description, physical plan, job count)`` of every SQL
    execution the status store holds, once the listener bus has
    drained."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    out = []
    store = spark._jsparkSession.sharedState().statusStore()
    it = store.executionsList().iterator()
    while it.hasNext():
        ex = it.next()
        out.append((
            ex.executionId(), ex.description(),
            ex.physicalPlanDescription(), ex.jobs().size(),
        ))
    return sorted(out)


def last_sql_execution(spark) -> int:
    """Id of the latest SQL execution, -1 when there is none."""
    return max((e[0] for e in _sql_executions(spark)), default=-1)


def sql_executions_since(spark, last_id: int) -> list:
    """``(description, physical plan, job count)`` of each SQL
    execution after ``last_id``, in id order."""
    return [e[1:] for e in _sql_executions(spark) if e[0] > last_id]
