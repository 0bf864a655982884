"""The scale tier: ``scripts/scale_probe.build_sf_dir`` writes a
replicated testdata dir that the registry and the DuckDB oracle read
like any other sf dir, and ``check_oracle.oracle_views`` reads the
Spark-written part-file directories it holds."""

from __future__ import annotations

import os
import sys
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from conftest import SF_DIR

_SCRIPTS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"
)
if _SCRIPTS not in sys.path:
    sys.path.insert(0, _SCRIPTS)


def test_oracle_views_read_part_file_dirs(tmp_path):
    """A ``<table>.parquet/`` directory of part files (what a Spark
    write leaves, ``_SUCCESS`` included) registers as one view, and
    DuckDB spills to the system temp dir, not the working directory."""
    from check_oracle import oracle_views

    d = tmp_path / "region.parquet"
    d.mkdir()
    for i, n in enumerate((3, 4)):
        pq.write_table(
            pa.table({"r_regionkey": list(range(n))}), d / f"part-{i}.parquet"
        )
    (d / "_SUCCESS").write_bytes(b"")
    con = oracle_views(str(tmp_path))
    assert con.sql("SELECT count(*) FROM region").fetchone()[0] == 7
    assert con.sql(
        "SELECT current_setting('temp_directory')"
    ).fetchone()[0] == tempfile.gettempdir()


def test_build_sf_dir_replicates_documents_and_embeddings(spark, tmp_path):
    import scale_probe as SP
    from check_oracle import _compare_one, oracle_views

    from datasplash_spark import queries as Q
    from datasplash_spark.pipeline import TESTDATA_TABLES

    out = SP.build_sf_dir(spark, 2, src=SF_DIR, work=str(tmp_path))
    assert os.path.basename(out) == os.path.basename(SF_DIR) + "x2"
    for t, key in (("documents", "doc_id"), ("embeddings", "vec_id")):
        src = spark.read.parquet(os.path.join(SF_DIR, f"{t}.parquet"))
        rep = spark.read.parquet(os.path.join(out, f"{t}.parquet"))
        assert rep.schema == src.schema, t
        n, top = src.count(), src.agg(F.max(key)).first()[0]
        assert rep.count() == 2 * n
        assert rep.select(key).distinct().count() == 2 * n
        # replica 0 is the source, value for value
        assert (
            rep.where(F.col(key) <= top).orderBy(key).collect()
            == src.orderBy(key).collect()
        ), t
    docs = spark.read.parquet(os.path.join(out, "documents.parquet"))
    assert docs.where(F.col("n_chars") != F.length("text")).count() == 0
    for t in set(TESTDATA_TABLES) - {"documents", "embeddings"}:
        if os.path.exists(os.path.join(SF_DIR, f"{t}.parquet")):
            assert os.path.islink(os.path.join(out, f"{t}.parquet")), t

    fn, sql = Q.REGISTRY["dedup_exact"]
    failed, line = _compare_one(
        spark, oracle_views(out), out, "dedup_exact", fn, sql
    )
    assert not failed, line


def test_kept_probe_ops_have_no_registry_row():
    """The probe times only what no registry row covers; registry rows
    run on the built dir through profile_query / check_oracle."""
    import scale_probe as SP

    from datasplash_spark import queries as Q

    kept = set(SP.OPS) | {SP.STORE_PROBES}
    assert kept == {
        "media_composition", "web_curation", "composition",
        "router_mixed_full", "office_extract", "store_probes",
    }
    assert not kept & set(Q.queries())
    # an unknown op is rejected before a session starts
    assert SP.main(["2", "dedup_exact"]) == 2


def test_profile_query_names_jobs_by_sql_execution(spark):
    """``profile_query --jobs`` names every job a SQL execution ran by
    that execution's id and description, AQE's pool-thread stage jobs
    included (their own job names all read
    ``$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java``)."""
    import profile_query

    def side(m):
        return spark.range(200).groupBy((F.col("id") % m).alias("k")).count()

    before = profile_query._job_rows(spark)
    # DataFrame.count sets no Python call site, so AQE's stage jobs
    # take the pool thread's
    side(7).join(side(5), "k").count()
    new = {
        jid: row
        for jid, row in profile_query._job_rows(spark).items()
        if jid not in before
    }
    assert len(new) >= 2
    names = {row[2] for row in new.values()}
    assert len(names) == 1, names
    (name,) = names
    assert name.startswith("[sql ") and "count at" in name, name


def test_profile_query_counts_codegen_compiles(spark):
    """``profile_query._codegen`` reads the JVM's class compiles and
    compile ms: a never-seen projection adds at least one compile and
    some compile time, and running it again adds none."""
    import profile_query

    def run():
        spark.range(3).select((F.col("id") * 7919 + 104729).alias("x")).collect()

    n0, ms0 = profile_query._codegen(spark)
    run()
    n1, ms1 = profile_query._codegen(spark)
    run()
    n2, _ = profile_query._codegen(spark)
    assert n1 > n0 and ms1 > ms0
    assert n2 == n1
