#!/usr/bin/env python
"""Local stand-in for the driver's correctness gate (dtype-sensitive):
run every ``queries()`` entry on Spark and its ``oracle_sql()`` on
DuckDB over the same parquet and compare them the way the driver does.

Spark result → toPandas, DuckDB oracle → .df(), sort columns by name,
sort_values over all columns, then compare a stable per-frame hash.
Column names must match. Columns whose post-canonical dtypes differ
(int64 vs float64, object vs int64) FAIL even if the values match
numerically, exactly like the driver: DuckDB ``sum(int)`` returns
int128, lands in pandas as float64/object, and hashes differently
from Spark's int64. Array/struct cells FAIL with the same
"unhashable" error the driver raises.

Usage: python scripts/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

from datasplash_spark import queries as Q
from datasplash_spark.pipeline import TESTDATA_TABLES, PipelineOptions, make_session


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    if len(df):
        df = df.sort_values(list(df.columns), kind="mergesort")
    return df.reset_index(drop=True)


def _hash(df: pd.DataFrame) -> int:
    # float jitter guard: round floats to 9 significant-ish places the
    # way a value-hash with a tolerance would; ints/strings untouched
    out = {}
    for c in df.columns:
        s = df[c]
        if s.dtype.kind == "f":
            s = s.round(9)
        out[c] = s
    return int(pd.util.hash_pandas_object(pd.DataFrame(out), index=False).sum())


def oracle_views(sf_dir: str):
    """A DuckDB connection with the testdata tables registered as
    views: the oracle side of the compare. A table may be one parquet file
    or a Spark-written directory of part files (a replicated scale
    dir). DuckDB spills to the system temp dir, not to ``./.tmp``
    under whatever directory the check runs from."""
    con = duckdb.connect(config={"temp_directory": tempfile.gettempdir()})
    for t in TESTDATA_TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.isdir(path):
            path = os.path.join(path, "*.parquet")
        elif not os.path.exists(path):
            continue
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def _compare_one(spark, con, sf_dir: str, name: str, fn, sql):
    """One driver-faithful comparison. Returns ``(failed, line)`` —
    the status line matches the historical sequential output so logs
    stay greppable."""
    t0 = time.time()
    try:
        spdf = fn(spark, sf_dir).toPandas()
    except Exception as e:
        return True, f"ERR  {name}: spark: {type(e).__name__}: {e}"
    if sql is None:
        return False, (
            f"ok   {name}: rows-only ({len(spdf)} rows, {time.time()-t0:.1f}s)"
        )
    try:
        odf = con.sql(sql).df()
    except Exception as e:
        return True, f"ERR  {name}: duckdb: {type(e).__name__}: {e}"
    if sorted(spdf.columns) != sorted(odf.columns):
        return True, (
            f"FAIL {name}: columns spark={sorted(spdf.columns)}"
            f" oracle={sorted(odf.columns)}"
        )
    try:
        sc, oc = _canon(spdf), _canon(odf)
    except TypeError as e:
        return True, f"ERR  {name}: canonicalize: {e}  (unhashable cell?)"
    rows_ok = len(sc) == len(oc)
    # dtype check: the driver's hash is dtype-sensitive; surface it
    # explicitly so int64-vs-float64 reads as the diagnosis, not a
    # mystery hash mismatch
    dtype_mismatch = [
        (c, str(sc[c].dtype), str(oc[c].dtype))
        for c in sc.columns
        if sc[c].dtype != oc[c].dtype
    ]
    try:
        hash_ok = rows_ok and _hash(sc) == _hash(oc)
    except TypeError as e:
        return True, f"ERR  {name}: hash: {e}"
    if rows_ok and hash_ok:
        note = f"  [dtype note: {dtype_mismatch}]" if dtype_mismatch else ""
        return False, (
            f"PASS {name} ({len(sc)} rows, {time.time()-t0:.1f}s){note}"
        )
    why = []
    if not rows_ok:
        why.append(f"rows spark={len(sc)} oracle={len(oc)}")
    if dtype_mismatch:
        why.append(f"dtypes {dtype_mismatch}")
    if rows_ok and not hash_ok and not dtype_mismatch:
        neq = sc.compare(oc) if sc.shape == oc.shape else None
        why.append(
            f"hash mismatch; first diffs:\n{neq.head(5) if neq is not None else '?'}"
        )
    return True, f"FAIL {name}: " + "; ".join(why)


def run_gate(spark, con, sf_dir: str, only=None, echo=print, workers=1) -> list:
    """Run the driver-faithful comparison over the registry (or the
    ``only`` subset); returns the list of failing query names.
    Importable — the out-of-window tripwire test
    (tests/test_gate_all.py) runs this under plain pytest so a
    regression in a query outside the driver's 50-entry window
    fails CI immediately instead of two rounds later.

    ``workers > 1`` (round 10 — VERDICT r9 item 6, suite wall time)
    runs comparisons on a thread pool: Spark's local scheduler
    accepts concurrent jobs from driver threads, and each thread
    gets its own DuckDB cursor (``con.cursor()`` is the documented
    thread entry point). Status lines are emitted in completion
    order; failure DETECTION is order-independent, so parallelism
    changes wall time, never the verdict."""
    items = [
        (name, fn, sql)
        for name, (fn, sql) in Q.REGISTRY.items()
        if not only or name in only
    ]
    failures = []
    if workers <= 1:
        for name, fn, sql in items:
            failed, line = _compare_one(spark, con, sf_dir, name, fn, sql)
            echo(line)
            if failed:
                failures.append(name)
        return failures

    from concurrent.futures import ThreadPoolExecutor

    def task(item):
        name, fn, sql = item
        cur = con.cursor()
        try:
            return name, _compare_one(spark, cur, sf_dir, name, fn, sql)
        finally:
            cur.close()

    with ThreadPoolExecutor(max_workers=workers) as pool:
        for name, (failed, line) in pool.map(task, items):
            echo(line)
            if failed:
                failures.append(name)
    return failures


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    unknown = only - set(Q.REGISTRY)
    if unknown:
        print(f"unknown query name(s): {sorted(unknown)}")
        print(f"known: {sorted(Q.REGISTRY)}")
        return 2
    spark = make_session(PipelineOptions(app_name="oracle-check"))
    failures = run_gate(spark, oracle_views(sf_dir), sf_dir, only)
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
