#!/usr/bin/env python
"""Scale tier: build a replicated sf dir, and time the composed
pipelines that no registry row covers.

``build_sf_dir(spark, k)`` writes ``/tmp/scale_probe/sf0.1x{k}/``, a
testdata dir whose ``documents`` and ``embeddings`` hold k near-dup
replicas of the source tables. Replica 0 is the source row as it is;
replica i (1..k-1) appends the token ``replica{i}`` to the text (and
recomputes ``n_chars``) or adds ``0.001*i`` to every vector component,
and its id is offset by i times (max id + 1). The schema is the
source's, column for column. The other tables are symlinks to the
source files. The corpus is duplicate-heavy on purpose: every document
gains k-1 near-dup siblings, so dedup operators face growing cluster
sizes, the adversarial direction for LSH, CC and SemDeDup.

Registry rows run on that dir through the usual tools:

    python scripts/profile_query.py --sf-dir DIR --reps 2 --jobs name ...
    python scripts/check_oracle.py DIR name ...

This script times only the ops in ``OPS`` (plus the four store
probes, ``store_probes``), each a min of 2 through ``bench._timed``.

Usage: python scripts/scale_probe.py [k ...] [op ...]
       (default k: 1 2 5 10; default ops: all)
Prints the dir per k, then one line per (k, op): wall, executor cpu
and the op's result.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from bench import _cpu_meter, _store_probes, _timed, warm_workers
from datasplash_spark.pipeline import (
    TESTDATA_TABLES,
    PipelineOptions,
    load_table,
    local_table,
    make_session,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
WORK = "/tmp/scale_probe"


def _replicas(table: str):
    """``(id column, {column: replica-i expression})`` for a replicated
    table; replica 0 keeps every source value, so the expressions
    apply to i > 0 only."""
    if table == "documents":
        text = F.concat(F.col("text"), F.lit(" replica"),
                        F.col("_i").cast("string"))
        return "doc_id", {"text": text, "n_chars": F.length(text).cast("long")}
    return "vec_id", {
        "embedding": F.transform(
            "embedding",
            lambda x: (x + F.col("_i") * F.lit(0.001)).cast("float"),
        ),
    }


def build_sf_dir(spark, k: int, src: str = SF_DIR, work: str = WORK) -> str:
    """The ×k copy of ``src`` under ``work`` (see the module doc).
    A table whose Spark write committed (``_SUCCESS``) is reused."""
    out = os.path.join(work, f"{os.path.basename(src.rstrip('/'))}x{k}")
    os.makedirs(out, exist_ok=True)
    for t in TESTDATA_TABLES:
        s, d = os.path.join(src, f"{t}.parquet"), os.path.join(out, f"{t}.parquet")
        if not os.path.exists(s):
            continue
        if t not in ("documents", "embeddings"):
            if not os.path.lexists(d):
                os.symlink(os.path.abspath(s), d)
            continue
        if os.path.exists(os.path.join(d, "_SUCCESS")):
            continue
        key, repl = _replicas(t)
        df = spark.read.parquet(s)
        n = df.agg(F.max(key)).first()[0] + 1
        i = F.col("_i")
        cols = [
            (F.col(key) + i * F.lit(int(n))).alias(key) if c == key
            else F.when(i == 0, F.col(c)).otherwise(repl[c]).alias(c)
            if c in repl else F.col(c)
            for c in df.columns
        ]
        # explode, not a k-way union: a union of k plans analyses
        # slowly at the ×100 tier
        rep = F.explode(F.sequence(F.lit(0), F.lit(int(k) - 1))).alias("_i")
        (
            df.select("*", rep).select(*cols).repartition(32)
            .write.mode("overwrite").parquet(d)
        )
    return out


def _docs(spark, sf_dir: str):
    return load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )


def media_composition(spark, sf_dir: str, k: int) -> int:
    """Kept: five container families routed by magic in one plan;
    each registry row extracts one family on its own.

    Synthesize image/PDF/MP3-OGG/MP4/office blobs on ``doc_id % 5``,
    route by ``sniff_media_type``, extract per route, and near-dup the
    image branch over one persisted media table."""
    from datasplash_spark.functions import mp3ogg as au
    from datasplash_spark.functions import mp4 as mp
    from datasplash_spark.functions import multimodal as mm
    from datasplash_spark.functions import office as of
    from datasplash_spark.functions import pdf as pf

    d, did = _docs(spark, sf_dir), F.col("doc_id")
    media = (
        mm.synthesize_image_from_text(
            d.filter(did % 5 == 0),
            fmt=F.when(did % 10 == 0, F.lit("png")).otherwise(F.lit("jpeg")),
        ).select("doc_id", "media")
        .unionByName(pf.synthesize_pdf_from_text(d.filter(did % 5 == 1))
                     .select("doc_id", "media"))
        .unionByName(au.synthesize_audio_meta_from_text(d.filter(did % 5 == 2))
                     .select("doc_id", "media"))
        .unionByName(mp.synthesize_mp4_from_text(d.filter(did % 5 == 3))
                     .select("doc_id", "media"))
        .unionByName(of.synthesize_office_from_text(d.filter(did % 5 == 4))
                     .select("doc_id", "media"))
        .persist()
    )
    kind = mm.sniff_media_type("media")

    def total(df, col):
        return df.agg(F.sum(F.col(col).cast("long"))).first()[0]

    try:
        return (
            mm.image_ahash(media.filter(kind.isin("png", "jpeg")))
            .select("ahash").distinct().count()
            + total(pf.pdf_text_features(media.filter(kind == "pdf")), "n_chars")
            + total(au.audio_metadata_features(
                media.filter(kind.isin("mp3", "ogg"))), "n_units")
            + total(mp.mp4_metadata_features(media.filter(kind == "mp4")),
                    "n_samples")
            + total(of.office_text_features(media.filter(kind == "zip")),
                    "n_chars")
        )
    finally:
        media.unpersist()


def web_curation(spark, sf_dir: str, k: int) -> int:
    """Kept: no registry row reads WARC shards; this is the only run
    of ``prep.web_ingest_prep`` on a corpus.

    WARC shards are synthesized once per dir (an html page per doc,
    1 in 7 on a robots-disallowed path, 16 hosts), then
    read_warc → html_extract → robots gate → Gopher quality →
    paragraph dedup → minhash dedup run in one plan."""
    from datasplash_spark.functions import prep as pp
    from datasplash_spark.sources import archives as ar

    warc_dir = sf_dir.rstrip("/") + "_warc"
    if not os.path.exists(warc_dir):
        did = F.col("doc_id")
        pages = load_table(spark, sf_dir, "documents").select(
            (did % max(32, 2 * k)).alias("shard_id"),
            F.concat(
                F.lit("https://h"), (did % 16).cast("string"),
                F.lit(".example.com"),
                F.when(did % 7 == 0, F.lit("/private/")).otherwise(F.lit("/doc/")),
                did.cast("string"),
            ).alias("target_uri"),
            F.encode(
                F.concat(
                    F.lit("<html><head><title>d"), did.cast("string"),
                    F.lit("</title><style>p{margin:0}</style></head><body><p>"),
                    F.col("text"),
                    F.lit("</p></body></html>"),
                ),
                "UTF-8",
            ).alias("payload"),
        )
        ar.write_warc_shards(pages, warc_dir).count()
    robots = local_table(
        spark,
        [(f"h{i}.example.com", "User-agent: *\nDisallow: /private/\n")
         for i in range(16)],
        "host string, robots_txt string",
    )
    return pp.web_ingest_prep(
        spark, warc_dir + "/*.warc.gz", robots, min_tokens=5
    ).count()


def composition(spark, sf_dir: str, k: int) -> int:
    """Kept: ``corpus_prep_full`` (quality → paragraph dedup → minhash
    dedup → decontaminate → temperature mix → pack) is wider than the
    ``corpus_prep_pipeline`` registry row. The token budget grows with
    k, so the admitted share stays comparable; every 10th doc is the
    eval set."""
    from datasplash_spark.functions import prep as pp

    docs, did = load_table(spark, sf_dir, "documents"), F.col("doc_id")
    return pp.corpus_prep_full(
        docs.filter(did % 10 != 0), docs.filter(did % 10 == 0),
        total_budget=8000 * k, seq_len=2048,
    ).agg(F.count(F.lit(1)), F.sum("n_tok"), F.max("pack_id")).first()[0]


def router_mixed_full(spark, sf_dir: str, k: int) -> int:
    """Kept: the whole dispatch table (33 kind combinations, poison
    quarantine included) through one ``document_text_features`` plan,
    wider than the ``router_report`` registry row.

    The 19-family sweep rotation plus each later family's own
    synthesizer on doc_id residues; every 23rd doc becomes a poison
    blob (PK magic, not a zip). Returns the ok-row char total and
    prints the quarantine count and kind histogram, so a silent routing
    change cannot read as covering everything."""
    from datasplash_spark.functions import code as cd
    from datasplash_spark.functions import doctext as dtx
    from datasplash_spark.functions import markdown as mdw
    from datasplash_spark.functions import notebook as nb
    from datasplash_spark.functions import subtitles as st
    from datasplash_spark.functions import tabular as tb
    from datasplash_spark.functions import wikitext as wk

    d, did = _docs(spark, sf_dir), F.col("doc_id")
    # the residue split keeps both doc_id parities inside the subtitle
    # and tabular groups (their synths branch on parity); branches
    # whose synth rotates on doc_id % n densify their ids so every
    # inner family appears
    parts = [
        (dtx.synthesize_documents_from_text(
            d.filter((did % 20 == 0) | (did % 20 == 10))
            .withColumn("doc_id", (did / 10).cast("long")),
            families=19,
        ), "media"),
        (tb.synthesize_parquet_from_text(d.filter(did % 20 == 5)), "media"),
        (dtx.synthesize_compressed_from_text(
            d.filter(did % 20 == 15)
            .withColumn("doc_id", ((did - 15) / 20).cast("long")),
            poison_mod=0,
        ), "media"),
        (mdw.synthesize_markdown_from_text(d.filter(did % 10 == 1)), "source_md"),
        (cd.synthesize_code_from_text(d.filter(did % 20 == 6)), "source_code"),
        (nb.synthesize_ipynb_from_text(d.filter(did % 20 == 16)), "media"),
        (wk.synthesize_wikitext_from_text(d.filter(did % 5 == 2)), "source_wiki"),
        (st.synthesize_subtitles_from_text(d.filter(did % 5 == 3)), "media"),
        (tb.synthesize_tabular_from_text(d.filter(did % 5 == 4), poison_mod=0),
         "media"),
    ]
    media = None
    for p, col in parts:
        p = p.select("doc_id", F.col(col).alias("media"))
        media = p if media is None else media.unionByName(p)
    media = media.withColumn(
        "media",
        F.when(did % 23 == 7, F.lit(b"PK\x05\x06poison-not-a-zip"))
        .otherwise(F.col("media")),
    )
    feats = dtx.document_text_features(media).persist()
    try:
        ok_chars = (
            feats.where("ok").agg(F.sum(F.col("n_chars").cast("long"))).first()[0]
        )
        quarantined = feats.where("NOT ok").count()
        kinds = sorted((r.kind, r["count"]) for r in
                       feats.groupBy("kind").count().collect())
        print(f"    router_mixed_full: quarantined={quarantined} kinds={kinds}",
              flush=True)
    finally:
        feats.unpersist()
    return ok_chars


def office_extract(spark, sf_dir: str, k: int) -> int:
    """Kept: ``q_office_extract`` left the registry (doctext_sweep
    covers its formats), so no registry tool can time it."""
    from datasplash_spark import queries as Q

    return Q.q_office_extract(spark, sf_dir).count()


OPS = {
    f.__name__: f
    for f in (media_composition, web_curation, composition,
              router_mixed_full, office_extract)
}
# ``store_probes`` runs bench's four ANN/postings store probes (store
# build untimed), which serve from stores, not from a registry body
STORE_PROBES = "store_probes"


def probe(spark, sf_dir: str, k: int, names) -> list[str]:
    """Time ``names`` on ``sf_dir``; returns the names that failed."""
    meter, failed = _cpu_meter(spark), []

    def run(name, fn):
        got = []
        try:
            wall, cpu = _timed(spark, lambda: got.append(fn()), meter)
        except Exception as e:  # report and go on to the next op
            failed.append(name)
            print(f"x{k} {name}: FAILED ({e})", flush=True)
            return
        print(f"x{k} {name}: {wall:.2f}s wall / {cpu:.2f}s cpu "
              f"(min of 2, result {got[-1]})", flush=True)

    for name in names:
        if name != STORE_PROBES:
            run(name, lambda f=OPS[name]: f(spark, sf_dir, k))
            continue
        root = tempfile.mkdtemp(prefix="stores_", dir=os.path.dirname(sf_dir))
        try:
            for pname, fn in _store_probes(spark, sf_dir, root).items():
                run(pname, fn)
        finally:
            shutil.rmtree(root, ignore_errors=True)
    return failed


def main(argv) -> int:
    ks = [int(a) for a in argv if a.isdigit()] or [1, 2, 5, 10]
    names = [a for a in argv if not a.isdigit()] or [*OPS, STORE_PROBES]
    unknown = set(names) - {*OPS, STORE_PROBES}
    if unknown:
        print(f"unknown op(s): {sorted(unknown)}; known: {[*OPS, STORE_PROBES]}")
        return 2
    spark = make_session(PipelineOptions(app_name="scale-probe"))
    failed = []
    try:
        warm = spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet"))
        warm.groupBy("l_returnflag").count().count()
        warm_workers(spark)
        for k in ks:
            sf_dir = build_sf_dir(spark, k)
            print(f"x{k}: {sf_dir}", flush=True)
            failed += probe(spark, sf_dir, k, names)
    finally:
        spark.stop()
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
