#!/usr/bin/env python
"""Empirical scaling probe: replicate the sf0.1 corpus k× (near-dup
replicas — each copy's text gets a replica-tag token appended, ids
offset) and time the heavy operators at 1x/2x/5x/10x to MEASURE the
scaling curve SCALING.md asserts. Near-linear growth = the
bucketed/banded designs hold; super-linear growth exposes a
quadratic leak.

The replicated corpora live under /tmp (testdata is read-only) and
are deliberately duplicate-HEAVY: every document gains k-1 near-dup
siblings, so dedup operators face growing cluster sizes — the
adversarial direction for LSH/CC/SemDeDup — while unique-corpus ops
(ngram counts, spans) see plain volume growth.

Usage: python scripts/scale_probe.py [k ...]   (default 1 2 5 10)
Prints one line per (k, op): rows, seconds.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from bench import _cpu_meter, _hygiene, warm_workers
from datasplash_spark.pipeline import PipelineOptions, make_session

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
WORK = "/tmp/scale_probe"


def build_corpus(spark, k: int) -> tuple[str, str]:
    docs_path = f"{WORK}/docs_x{k}.parquet"
    emb_path = f"{WORK}/emb_x{k}.parquet"
    if not os.path.exists(docs_path):
        docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
        n = docs.agg(F.max("doc_id")).first()[0] + 1
        # explode-based replication (a k-way union plans fine at k=10
        # but not at the ×100 tier): replica 0 keeps the exact text,
        # replicas 1..k-1 gain a tag token → near-dup siblings
        rep = F.explode(F.sequence(F.lit(0), F.lit(int(k) - 1))).alias("_i")
        out = docs.select("*", rep).select(
            (F.col("doc_id") + F.col("_i") * F.lit(int(n))).alias("doc_id"),
            F.when(F.col("_i") == 0, F.col("text"))
            .otherwise(
                F.concat(F.col("text"), F.lit(" replica"), F.col("_i"))
            )
            .alias("text"),
            "lang",
            "source",
            "n_chars",
        )
        out.repartition(32).write.mode("overwrite").parquet(docs_path)
    if not os.path.exists(emb_path):
        emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
        m = emb.agg(F.max("vec_id")).first()[0] + 1
        rep = F.explode(F.sequence(F.lit(0), F.lit(int(k) - 1))).alias("_i")
        out = emb.select("*", rep).select(
            (F.col("vec_id") + F.col("_i") * F.lit(int(m))).alias("vec_id"),
            F.transform(
                "embedding",
                lambda x: x + F.col("_i").cast("double") * F.lit(0.001),
            ).alias("embedding"),
            "label",
        )
        out.repartition(32).write.mode("overwrite").parquet(emb_path)
    return docs_path, emb_path


def _router_mixed_full(spark, docs) -> int:
    """The full-breadth router tier: the WHOLE dispatch table
    through ONE document_text_features plan — the 19-family sweep
    rotation (incl. email/log/feed, round-13 continuation) plus
    each round-12/13 family's own synthesizer on ``doc_id % 5``,
    poison blobs on every 23rd doc gating the quarantine inside the
    same measured run. Returns ok-row char total (and prints the
    quarantine count + kind histogram so a silent routing change
    cannot read as 'covered everything')."""
    from datasplash_spark.functions import code as cd
    from datasplash_spark.functions import doctext as dtx
    from datasplash_spark.functions import markdown as mdw
    from datasplash_spark.functions import subtitles as st
    from datasplash_spark.functions import tabular as tb
    from datasplash_spark.functions import wikitext as wk

    d = docs.repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    did = F.col("doc_id")
    # residue split keeps BOTH doc_id parities inside the subtitle
    # and tabular groups (their synths branch srt/vtt and csv/jsonl
    # on parity); md and code are parity-indifferent so they share
    # the %5==1 class via a %10 split, and the round-13 parquet +
    # compressed families take half of the 8-family class via %20
    from datasplash_spark.functions import tabular as tbq

    # branches whose synth rotates on doc_id % k densify their ids
    # (did // 20 style) so every inner family appears — %20 residue
    # classes alone would pin did % 8 / % 4 / % 3 to a constant
    media = (
        dtx.synthesize_documents_from_text(
            d.filter((did % 20 == 0) | (did % 20 == 10)).withColumn(
                "doc_id", (did / 10).cast("long")
            ),
            families=19,
        )
        .select("doc_id", "media")
        .unionByName(
            tbq.synthesize_parquet_from_text(d.filter(did % 20 == 5))
            .select("doc_id", "media")
        )
        .unionByName(
            dtx.synthesize_compressed_from_text(
                d.filter(did % 20 == 15).withColumn(
                    "doc_id", ((did - 15) / 20).cast("long")
                ),
                poison_mod=0,
            ).select("doc_id", "media")
        )
        .unionByName(
            mdw.synthesize_markdown_from_text(d.filter(did % 10 == 1))
            .select("doc_id", F.col("source_md").alias("media"))
        )
        .unionByName(
            cd.synthesize_code_from_text(d.filter(did % 20 == 6))
            .select("doc_id", F.col("source_code").alias("media"))
        )
        .unionByName(
            __import__(
                "datasplash_spark.functions.notebook",
                fromlist=["notebook"],
            ).synthesize_ipynb_from_text(d.filter(did % 20 == 16))
            .select("doc_id", "media")
        )
        .unionByName(
            wk.synthesize_wikitext_from_text(d.filter(did % 5 == 2))
            .select("doc_id", F.col("source_wiki").alias("media"))
        )
        .unionByName(
            st.synthesize_subtitles_from_text(d.filter(did % 5 == 3))
            .select("doc_id", "media")
        )
        .unionByName(
            tb.synthesize_tabular_from_text(
                d.filter(did % 5 == 4), poison_mod=0
            ).select("doc_id", "media")
        )
        .withColumn(
            "media",
            F.when(
                did % 23 == 7,
                F.lit(b"PK\x05\x06poison-not-a-zip"),
            ).otherwise(F.col("media")),
        )
    )
    feats = dtx.document_text_features(media).persist()
    try:
        ok_chars = (
            feats.where("ok")
            .agg(F.sum(F.col("n_chars").cast("long")))
            .first()[0]
        )
        quarantined = feats.where("NOT ok").count()
        kinds = feats.groupBy("kind").count().collect()
        print(
            f"    router_mixed_full: quarantined={quarantined} "
            f"kinds={sorted((r.kind, r['count']) for r in kinds)}",
            flush=True,
        )
    finally:
        feats.unpersist()
    return ok_chars


def probe(spark, k: int) -> None:
    from datasplash_spark.functions import dedup as dd
    from datasplash_spark.functions import similarity as sim
    from datasplash_spark.functions import text as tx

    docs_path, emb_path = build_corpus(spark, k)
    docs = spark.read.parquet(docs_path)
    emb = spark.read.parquet(emb_path).withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    # the documented sizing rule, applied rather than asserted: pick
    # n_cells so |cell| ≈ corpus/K stays join-friendly (~1k rows);
    # k<=10 tiers keep the historical fixed K=16 for curve continuity
    n_vec = emb.count()
    n_cells = 16 if k <= 10 else max(16, n_vec // 1000)
    print(f"x{k}: {n_vec} vectors, n_cells={n_cells}", flush=True)

    def media_composition() -> int:
        """Composed MIXED-MEDIA tier (round 10 s2), one plan family:
        synthesize four container families, route by magic
        (sniff_media_type, codegen'd), extract per route (image
        decode+aHash / PDF text incl. the security handler / MP3-OGG
        metadata / MP4 boxes), near-dup the image branch — the
        multimodal analog of the `composition` text tier."""
        from datasplash_spark.functions import mp3ogg as au
        from datasplash_spark.functions import mp4 as mp
        from datasplash_spark.functions import multimodal as mm
        from datasplash_spark.functions import office as of
        from datasplash_spark.functions import pdf as pf

        d = docs.repartition(
            spark.sparkContext.defaultParallelism, "doc_id"
        )
        did = F.col("doc_id")
        media = (
            mm.synthesize_image_from_text(
                d.filter(did % 5 == 0),
                fmt=F.when(did % 10 == 0, F.lit("png")).otherwise(
                    F.lit("jpeg")
                ),
            )
            .select("doc_id", "media")
            .unionByName(
                pf.synthesize_pdf_from_text(d.filter(did % 5 == 1))
                .select("doc_id", "media")
            )
            .unionByName(
                au.synthesize_audio_meta_from_text(d.filter(did % 5 == 2))
                .select("doc_id", "media")
            )
            .unionByName(
                mp.synthesize_mp4_from_text(d.filter(did % 5 == 3))
                .select("doc_id", "media")
            )
            .unionByName(
                # 5th family (round 11): office containers route by
                # the 'zip' magic through the same sniff
                of.synthesize_office_from_text(d.filter(did % 5 == 4))
                .select("doc_id", "media")
            )
            .persist()
        )
        kind = mm.sniff_media_type("media")
        try:
            total = (
                mm.image_ahash(media.filter(kind.isin("png", "jpeg")))
                .select("ahash")
                .distinct()
                .count()
            )
            total += (
                pf.pdf_text_features(media.filter(kind == "pdf"))
                .agg(F.sum(F.col("n_chars").cast("long")))
                .first()[0]
            )
            total += (
                au.audio_metadata_features(
                    media.filter(kind.isin("mp3", "ogg"))
                )
                .agg(F.sum("n_units"))
                .first()[0]
            )
            total += (
                mp.mp4_metadata_features(media.filter(kind == "mp4"))
                .agg(F.sum("n_samples"))
                .first()[0]
            )
            total += (
                of.office_text_features(media.filter(kind == "zip"))
                .agg(F.sum(F.col("n_chars").cast("long")))
                .first()[0]
            )
        finally:
            media.unpersist()
        return total

    def web_curation() -> int:
        """Composed WEB-INGEST tier (round 11): the Common Crawl
        shape — synthesize WARC shards once per tier (html page per
        doc, 1-in-7 on a robots-disallowed path), then
        read_warc → html_extract → robots gate → Gopher quality →
        paragraph dedup → minhash dedup in ONE plan
        (prep.web_ingest_prep). Mirrors what corpus_prep_full does
        for the curation half; payload bytes never pass an Exchange
        (plan-pinned in tests/test_plans.py)."""
        from datasplash_spark.functions import prep as pp
        from datasplash_spark.sources import archives as ar

        warc_dir = f"{WORK}/warc_x{k}"
        if not os.path.exists(warc_dir):
            n_shards = max(32, 2 * k)
            did = F.col("doc_id")
            pages = docs.select(
                (did % n_shards).alias("shard_id"),
                F.concat(
                    F.lit("https://h"), (did % 16).cast("string"),
                    F.lit(".example.com"),
                    F.when(did % 7 == 0, F.lit("/private/"))
                    .otherwise(F.lit("/doc/")),
                    did.cast("string"),
                ).alias("target_uri"),
                F.encode(
                    F.concat(
                        F.lit("<html><head><title>d"),
                        did.cast("string"),
                        F.lit("</title><style>p{margin:0}</style>"
                              "</head><body><p>"),
                        F.col("text"),
                        F.lit("</p></body></html>"),
                    ),
                    "UTF-8",
                ).alias("payload"),
            )
            ar.write_warc_shards(pages, warc_dir).count()
        robots = spark.createDataFrame(
            [
                (f"h{i}.example.com",
                 "User-agent: *\nDisallow: /private/\n")
                for i in range(16)
            ],
            "host string, robots_txt string",
        )
        return pp.web_ingest_prep(
            spark, warc_dir + "/*.warc.gz", robots, min_tokens=5
        ).count()

    ops = {
        "media_composition": media_composition,
        "web_curation": web_curation,
        "lsh_pairs": lambda: dd.lsh_candidate_pairs(
            docs, num_hashes=16, bands=4, k=3, seed=42, cache=True
        ).count(),
        "dedup_clusters": lambda: dd.dedup_clusters(
            docs, num_hashes=16, bands=4, k=3, seed=42
        ).count(),
        "semantic_dedup": lambda: sim.semantic_dedup(
            emb, eps=0.9, centroids=sim.ivf_centroids(emb, n_cells)
        ).count(),
        "spans_keep_first": lambda: dd.remove_repeated_spans(
            docs, k=8, min_count=2, keep_first=True
        )
        .agg(F.sum("n_removed"))
        .first()[0],
        # round-10 session 2: the FULL pdf_extract corpus (mixed
        # layouts × filters × ciphers × font shapes — decryption and
        # ToUnicode CMap decode included)
        "pdf_extract": lambda: (
            lambda pf: pf.pdf_text_features(
                pf.synthesize_pdf_from_text(
                    docs.repartition(
                        spark.sparkContext.defaultParallelism, "doc_id"
                    )
                )
            )
            .agg(F.sum(F.col("n_chars").cast("long")))
            .first()[0]
        )(
            __import__(
                "datasplash_spark.functions.pdf", fromlist=["pdf"]
            )
        ),
        # round-10 session 2: EXIF'd JPEG corpus (APP1 walk +
        # decode + orientation normalization per doc)
        "image_exif": lambda: (
            lambda xf: xf.image_exif_features(
                xf.synthesize_exif_corpus(
                    docs.repartition(
                        spark.sparkContext.defaultParallelism, "doc_id"
                    )
                )
            )
            .agg(F.sum(F.col("width").cast("long")))
            .first()[0]
        )(
            __import__(
                "datasplash_spark.functions.exif", fromlist=["exif"]
            )
        ),
        # round 11: office-document corpus (DOCX rels+runs walk /
        # EPUB container->opf->spine per doc, zip+XML kernels)
        "office_extract": lambda: (
            lambda of: of.office_text_features(
                of.synthesize_office_from_text(
                    docs.repartition(
                        spark.sparkContext.defaultParallelism, "doc_id"
                    )
                )
            )
            .agg(F.sum(F.col("n_chars").cast("long")))
            .first()[0]
        )(
            __import__(
                "datasplash_spark.functions.office", fromlist=["office"]
            )
        ),
        # round 11: universal document-text router over the 8-family
        # mixed corpus (pdf/docx/epub/pptx/odt/rtf/latex/html)
        "doc_text_sweep": lambda: (
            lambda dt: dt.document_text_features(
                dt.synthesize_documents_from_text(
                    docs.repartition(
                        spark.sparkContext.defaultParallelism, "doc_id"
                    )
                )
            )
            .agg(F.sum(F.col("n_chars").cast("long")))
            .first()[0]
        )(
            __import__(
                "datasplash_spark.functions.doctext",
                fromlist=["doctext"],
            )
        ),
        # round 11: LaTeX structural-scanner corpus
        "latex_extract": lambda: (
            lambda lx: lx.latex_text_features(
                lx.synthesize_latex_from_text(
                    docs.repartition(
                        spark.sparkContext.defaultParallelism, "doc_id"
                    )
                )
            )
            .agg(F.sum(F.col("n_chars").cast("long")))
            .first()[0]
        )(
            __import__(
                "datasplash_spark.functions.latex", fromlist=["latex"]
            )
        ),
        # round 12: markdown structural-extractor corpus
        "markdown_extract": lambda: (
            lambda mdw: mdw.markdown_text_features(
                mdw.synthesize_markdown_from_text(
                    docs.repartition(
                        spark.sparkContext.defaultParallelism, "doc_id"
                    )
                )
            )
            .agg(F.sum(F.col("n_chars").cast("long")))
            .first()[0]
        )(
            __import__(
                "datasplash_spark.functions.markdown",
                fromlist=["markdown"],
            )
        ),
        # round 12: wikitext structural-extractor corpus
        "wikitext_extract": lambda: (
            lambda wk: wk.wikitext_text_features(
                wk.synthesize_wikitext_from_text(
                    docs.repartition(
                        spark.sparkContext.defaultParallelism, "doc_id"
                    )
                )
            )
            .agg(F.sum(F.col("n_chars").cast("long")))
            .first()[0]
        )(
            __import__(
                "datasplash_spark.functions.wikitext",
                fromlist=["wikitext"],
            )
        ),
        # round 12: subtitle (SRT/VTT) extractor corpus
        "subtitles_extract": lambda: (
            lambda st: st.subtitle_text_features(
                st.synthesize_subtitles_from_text(
                    docs.repartition(
                        spark.sparkContext.defaultParallelism, "doc_id"
                    )
                )
            )
            .agg(F.sum(F.col("n_chars").cast("long")))
            .first()[0]
        )(
            __import__(
                "datasplash_spark.functions.subtitles",
                fromlist=["subtitles"],
            )
        ),
        # round 13: source-code family (detector + line scanner,
        # lossless text)
        "code_extract": lambda: (
            lambda cd: cd.code_text_features(
                cd.synthesize_code_from_text(
                    docs.repartition(
                        spark.sparkContext.defaultParallelism, "doc_id"
                    )
                )
            )
            .agg(F.sum(F.col("code_lines").cast("long")))
            .first()[0]
        )(
            __import__(
                "datasplash_spark.functions.code", fromlist=["code"]
            )
        ),
        # round 13: tabular family (CSV/JSONL quote-aware flatten
        # incl. the every-23rd ragged/malformed quarantine rows)
        "tabular_extract": lambda: (
            lambda tb: tb.tabular_text_features(
                tb.synthesize_tabular_from_text(
                    docs.repartition(
                        spark.sparkContext.defaultParallelism, "doc_id"
                    ),
                    poison_mod=23,
                )
            )
            .agg(F.sum(F.col("n_rows").cast("long")))
            .first()[0]
        )(
            __import__(
                "datasplash_spark.functions.tabular",
                fromlist=["tabular"],
            )
        ),
        # round 13: parquet family (pyarrow writer+reader in one
        # kernel)
        "parquet_extract": lambda: (
            lambda tb: tb.parquet_text_features(
                tb.synthesize_parquet_from_text(
                    docs.repartition(
                        spark.sparkContext.defaultParallelism, "doc_id"
                    )
                )
            )
            .agg(F.sum(F.col("n_rows").cast("long")))
            .first()[0]
        )(
            __import__(
                "datasplash_spark.functions.tabular",
                fromlist=["tabular"],
            )
        ),
        # round 13: compressed transports (gz/bz2/xz over four inner
        # families incl. the every-23rd truncated-gzip quarantine)
        "compressed_extract": lambda: (
            lambda dtx: dtx.document_text_features(
                dtx.synthesize_compressed_from_text(
                    docs.repartition(
                        spark.sparkContext.defaultParallelism, "doc_id"
                    )
                )
            )
            .agg(F.sum(F.col("n_chars").cast("long")))
            .first()[0]
        )(
            __import__(
                "datasplash_spark.functions.doctext",
                fromlist=["doctext"],
            )
        ),
        # round 13: the WIDENED gated sweep, now the 19-family
        # rotation (separate op from doc_text_sweep so the 8-family
        # curve history stays comparable)
        "doc_text_sweep19": lambda: (
            lambda dtx: dtx.document_text_features(
                dtx.synthesize_documents_from_text(
                    docs.repartition(
                        spark.sparkContext.defaultParallelism, "doc_id"
                    ),
                    families=19,
                ).selectExpr("doc_id", "media")
            )
            .agg(F.sum(F.col("n_chars").cast("long")))
            .first()[0]
        )(
            __import__(
                "datasplash_spark.functions.doctext",
                fromlist=["doctext"],
            )
        ),
        # round 13: email family (stdlib MIME walk, qp decode, html
        # fallback)
        "email_extract": lambda: (
            lambda em: em.eml_text_features(
                em.synthesize_eml_from_text(
                    docs.repartition(
                        spark.sparkContext.defaultParallelism, "doc_id"
                    )
                )
            )
            .agg(F.sum(F.col("n_chars").cast("long")))
            .first()[0]
        )(
            __import__(
                "datasplash_spark.functions.eml", fromlist=["eml"]
            )
        ),
        # round 13: log family (header/continuation scanner over
        # the three dialects, poison quarantine included)
        "log_extract": lambda: (
            lambda lg: lg.log_text_features(
                lg.synthesize_log_from_text(
                    docs.repartition(
                        spark.sparkContext.defaultParallelism, "doc_id"
                    ),
                    poison_mod=23,
                )
            )
            .agg(F.sum(F.col("n_messages").cast("long")))
            .first()[0]
        )(
            __import__(
                "datasplash_spark.functions.logtext",
                fromlist=["logtext"],
            )
        ),
        # round 13: encoding transports (UTF-16/32 decode + re-sniff
        # + cp1252 fallback, truncated-payload quarantine included)
        "charset_extract": lambda: (
            lambda cs2, dtx: dtx.document_text_features(
                cs2.synthesize_charset_from_text(
                    docs.repartition(
                        spark.sparkContext.defaultParallelism, "doc_id"
                    ),
                    poison_mod=23,
                )
            )
            .agg(F.sum(F.col("n_chars").cast("long")))
            .first()[0]
        )(
            __import__(
                "datasplash_spark.functions.charset",
                fromlist=["charset"],
            ),
            __import__(
                "datasplash_spark.functions.doctext",
                fromlist=["doctext"],
            ),
        ),
        # round 13: calendar family (RFC 5545 unfold + unescape,
        # vCard privacy quarantine included)
        "ics_extract": lambda: (
            lambda ca: ca.ics_text_features(
                ca.synthesize_ics_from_text(
                    docs.repartition(
                        spark.sparkContext.defaultParallelism, "doc_id"
                    ),
                    poison_mod=23,
                )
            )
            .agg(F.sum(F.col("n_events").cast("long")))
            .first()[0]
        )(
            __import__(
                "datasplash_spark.functions.calendar",
                fromlist=["calendar"],
            )
        ),
        # round 13: feed family (ET walk, entity-decode + html
        # strip on escaped bodies, poison quarantine included)
        "feed_extract": lambda: (
            lambda fd: fd.feed_text_features(
                fd.synthesize_feed_from_text(
                    docs.repartition(
                        spark.sparkContext.defaultParallelism, "doc_id"
                    ),
                    poison_mod=23,
                )
            )
            .agg(F.sum(F.col("n_entries").cast("long")))
            .first()[0]
        )(
            __import__(
                "datasplash_spark.functions.feeds",
                fromlist=["feeds"],
            )
        ),
        # round 13: notebook family (nbformat cell walk with the
        # in-notebook markdown pass)
        "notebook_extract": lambda: (
            lambda nbk: nbk.notebook_text_features(
                nbk.synthesize_ipynb_from_text(
                    docs.repartition(
                        spark.sparkContext.defaultParallelism, "doc_id"
                    )
                )
            )
            .agg(F.sum(F.col("n_cells").cast("long")))
            .first()[0]
        )(
            __import__(
                "datasplash_spark.functions.notebook",
                fromlist=["notebook"],
            )
        ),
        # round 13 (VERDICT r12 item 7): the FULL router breadth in
        # one mixed bag — the 8-family rotation + parquet +
        # compressed + markdown + wikitext + SRT/VTT + code +
        # CSV/JSONL on doc_id residues, with every 23rd document
        # replaced by the poison blob (PK magic, not a zip) so the
        # quarantine path is in the measured plan too.
        "router_mixed_full": lambda: _router_mixed_full(spark, docs),
        # round-10 session 2: compressed-audio metadata tier (MP3
        # frame walk + ID3 + OGG CRC-verified pages, per-doc)
        "audio_metadata": lambda: (
            lambda A: A.audio_metadata_features(
                A.synthesize_audio_meta_from_text(
                    docs.repartition(
                        spark.sparkContext.defaultParallelism, "doc_id"
                    )
                )
            )
            .agg(F.sum("n_units"))
            .first()[0]
        )(
            __import__(
                "datasplash_spark.functions.mp3ogg", fromlist=["mp3ogg"]
            )
        ),
        "remove_spans": lambda: dd.remove_repeated_spans(
            docs, k=8, min_count=2
        ).count(),
        "unigram_scores": lambda: tx.unigram_doc_scores(docs).count(),
        "exact_dedup": lambda: dd.dedup_exact(docs).count(),
        "bigram_pmi": lambda: tx.bigram_pmi(docs, min_count=5).count(),
        "bm25": lambda: tx.bm25_scores(
            docs, ["spark", "table", "row"]
        ).count(),
        "dsir": lambda: tx.dsir_scores(
            docs, docs.limit(500), n_buckets=4096
        ).count(),
        "contrastive": lambda: sim.contrastive_pairs(
            emb, centroids=sim.ivf_centroids(emb, n_cells)
        ).count(),
        # round-6 continuation ops: line-frequency boilerplate (the
        # synth adds a shared lang line so a real boilerplate set
        # exists), vocab-sized subword fertility, and the postings
        # store (write = the corpus pass, then 3 pruned probes)
        # .count() alone lets Catalyst prune the whole frequency
        # pass (left join on a unique key preserves cardinality), so
        # aggregate an OUTPUT column to force the real computation
        "boilerplate": lambda: dd.remove_boilerplate_lines(
            docs.select(
                "doc_id",
                F.concat_ws(
                    "\n",
                    F.col("text"),
                    F.concat(F.lit("lang: "), F.col("lang")),
                ).alias("text"),
            ),
            min_docs=3,
        )
        .agg(F.sum("n_lines_out"))
        .first()[0],
        "subword": lambda: tx.subword_stats(
            docs,
            [
                ("e", "r"),
                ("i", "n"),
                ("o", "w"),
                ("o", "r"),
                ("s", "t"),
                ("m", "er"),
                ("a", "t"),
                ("l", "u"),
            ],
        )
        .agg(F.sum("n_sub"))
        .first()[0],
        # stateless-scan curation ops: expected flat-per-row; the
        # sum() forces the full expression tree like boilerplate
        "chat_qa": lambda: __import__(
            "datasplash_spark.functions.chat", fromlist=["chat"]
        )
        .conversation_stats(
            docs.select(
                "doc_id",
                F.concat(
                    F.lit('[{"role":"user","content":"'),
                    F.col("lang"),
                    F.lit('"},{"role":"assistant","content":"re '),
                    F.col("doc_id").cast("string"),
                    F.lit('"}]'),
                ).alias("conv_json"),
            )
        )
        .agg(F.sum("content_chars"))
        .first()[0],
        "url_norm": lambda: __import__(
            "datasplash_spark.functions.web", fromlist=["web"]
        )
        .host_stats(
            docs.select(
                "doc_id",
                "text",
                F.concat(
                    F.lit("https://h"),
                    (F.col("doc_id") % 50).cast("string"),
                    F.lit(".ex.com/p/"),
                    F.col("doc_id").cast("string"),
                    F.lit("?utm_source=x&a=1"),
                ).alias("url"),
            )
        )
        .agg(F.sum("n_urls"))
        .first()[0],
        "length_batches": lambda: tx.length_batches(
            docs, 64, part="source"
        )
        .agg(F.sum("waste_tok"))
        .first()[0],
        "budget_batches": lambda: tx.token_budget_batches(docs, 2048)
        .agg(F.sum("batch_tok"))
        .first()[0],
        # round-7 probes (VERDICT r6 item 6): the verify/mining stages
        # without a measured tier. edit_verify's law is candidate
        # count x O(len^2) per candidate — it reuses the lsh_pairs
        # banding so the candidate volume matches that curve;
        # winnowing is posexplode-linear; domain_reweight is one
        # token-scan loss pass + domain-sized iterations.
        "winnow": lambda: dd.winnow_fingerprints(docs, k=4, w=4)
        .agg(F.countDistinct("fp"))
        .first()[0],
        "edit_verify": lambda: sim.edit_distance_verify(
            docs,
            dd.lsh_candidate_pairs(
                docs, num_hashes=16, bands=4, k=3, seed=42, cache=True
            ).selectExpr("doc_a AS a", "doc_b AS b"),
            max_dist_ratio=0.3,
        ).count(),
        "domain_reweight": lambda: __import__(
            "datasplash_spark.operators", fromlist=["operators"]
        )
        .domain_reweight(
            docs.select("doc_id", "source")
            .join(tx.unigram_doc_scores(docs), "doc_id")
            .groupBy(F.col("source").alias("domain"))
            .agg(
                F.round(
                    -(
                        F.sum(
                            F.col("sum_logp_nano").cast("decimal(38,0)")
                        ).cast("double")
                        / F.sum(
                            F.col("n_toks").cast("decimal(38,0)")
                        ).cast("double")
                    )
                )
                .cast("long")
                .alias("loss_nano")
            ),
            iterations=5,
        )
        .agg(F.sum("weight_nano"))
        .first()[0],
        # round-7 new-operator tiers: each forces its real output
        # column (the boilerplate .count()-pruning lesson)
        "script_profile": lambda: tx.script_profile(docs)
        .agg(F.sum("nonlatin_micro"))
        .first()[0],
        "cdc_chunks": lambda: dd.cdc_chunks(docs, divisor=32, k=4)
        .agg(F.count(F.lit(1)), F.countDistinct("chunk_digest"))
        .first()[1],
        "ngram_novelty": lambda: tx.ngram_novelty(docs, k=3)
        .agg(F.sum("novelty_micro"))
        .first()[0],
        "zipf": lambda: tx.zipf_slopes(docs, key="source")
        .agg(F.sum("zipf_slope"))
        .first()[0],
        "audio": lambda: __import__(
            "datasplash_spark.functions.multimodal",
            fromlist=["multimodal"],
        )
        .audio_features(
            __import__(
                "datasplash_spark.functions.multimodal",
                fromlist=["multimodal"],
            ).synthesize_wav_from_text(docs, max_samples=512)
        )
        .agg(F.sum("sum_sq"))
        .first()[0],
        # round-8 probes: the two r7 ops without a recorded ×100 row
        # (VERDICT r7 item 5) plus this round's new operators and the
        # objectmode parity layer (item 8). Each forces a real output
        # column; hybrid includes the corpus-scale scorers (linear)
        # feeding K-bounded lists into rrf.
        "hybrid": lambda: (
            lambda lex, dense: sim.rrf_fuse([lex, dense], k=60)
            .agg(F.sum("rrf_nano"))
            .first()[0]
        )(
            tx.bm25_scores(docs, ["spark", "hash", "window"])
            .select("doc_id", F.col("score_nano").alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(100),
            emb.crossJoin(
                F.broadcast(
                    emb.orderBy("vec_id")
                    .limit(1)
                    .select(F.col("embedding").alias("qe"))
                )
            )
            .select(
                F.col("vec_id").alias("doc_id"),
                F.round(sim.cosine("embedding", "qe"), 6).alias("score"),
            )
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(100),
        ),
        "curriculum": lambda: __import__(
            "datasplash_spark.operators", fromlist=["operators"]
        )
        .curriculum_order(docs, "n_chars", n_stages=3, seed=42, key="source")
        .agg(F.count(F.lit(1)), F.sum("stage"))
        .first()[1],
        "objectmode_wc": lambda: _objectmode_wordcount(spark, docs),
        "paragraph_dedup": lambda: dd.dedup_paragraphs(
            docs, dd.word_paragraphs("text", 10)
        )
        .agg(F.sum(F.col("keep").cast("long")))
        .first()[0],
        "readability": lambda: docs.select(
            tx.readability_scores(
                F.concat(F.col("text"), F.lit(". end!"))
            )["flesch"].alias("f")
        )
        .agg(F.sum("f"))
        .first()[0],
        "image_formats": lambda: (
            lambda mm: mm.image_features(
                mm.synthesize_image_from_text(
                    docs.repartition(
                        spark.sparkContext.defaultParallelism, "doc_id"
                    ),
                    fmt=F.when(
                        F.col("doc_id") % 2 == 0, F.lit("jpeg")
                    ).otherwise(F.lit("png")),
                ),
                passthrough=["fmt"],
            )
            .agg(F.sum(F.col("width").cast("long")))
            .first()[0]
        )(
            __import__(
                "datasplash_spark.functions.multimodal",
                fromlist=["multimodal"],
            )
        ),
        "image_ahash": lambda: (
            lambda mm: mm.image_ahash(
                mm.synthesize_image_from_text(
                    docs.repartition(
                        spark.sparkContext.defaultParallelism, "doc_id"
                    ),
                    fmt="pngL",
                    size=(8, 8),
                )
            )
            .agg(F.sum("px_sum"))
            .first()[0]
        )(
            __import__(
                "datasplash_spark.functions.multimodal",
                fromlist=["multimodal"],
            )
        ),
        "postings": lambda: (
            tx.materialize_postings(
                docs, f"{WORK}/post_x{k}", n_buckets=64
            ),
            sum(
                tx.bm25_from_store(
                    spark, f"{WORK}/post_x{k}", qt
                ).count()
                for qt in (
                    ["spark", "table", "row"],
                    ["data", "model"],
                    ["quality", "filter"],
                )
            ),
        )[1],
        # round-10: the ×100 END-TO-END composition (VERDICT r9 item
        # 7) — quality → paragraph dedup → minhash dedup →
        # decontaminate → temperature mix → pack in ONE plan, so
        # cross-op interference (persist boundaries eating the
        # single-signature guarantee) shows up here if anywhere. The
        # token budget scales with k so the admitted fraction stays
        # comparable; the eval set is every 10th doc.
        "composition": lambda: (
            lambda prep: prep.corpus_prep_full(
                docs.filter(F.col("doc_id") % 10 != 0),
                docs.filter(F.col("doc_id") % 10 == 0),
                total_budget=8000 * k,
                seq_len=2048,
            )
            .agg(
                F.count(F.lit(1)),
                F.sum("n_tok"),
                F.max("pack_id"),
            )
            .first()[0]
        )(
            __import__(
                "datasplash_spark.functions.prep", fromlist=["prep"]
            )
        ),
    }
    only = os.environ.get("SCALE_PROBE_OPS")
    if only:
        want = {o.strip() for o in only.split(",")}
        ops = {n: f for n, f in ops.items() if n in want}
    cpu_meter = _cpu_meter(spark)
    for name, fn in ops.items():
        snap0 = cpu_meter() if cpu_meter else None
        t0 = time.time()
        try:
            rows = fn()
        except Exception as e:
            print(f"x{k} {name}: FAILED ({e})", flush=True)
            continue
        cpu = ""
        if snap0 is not None:
            cur = cpu_meter()
            dt = sum(v - snap0.get(kk, 0) for kk, v in cur.items()) / 1e9
            cpu = f", cpu {dt:.1f}s"
        print(
            f"x{k} {name}: {time.time() - t0:.2f}s ({rows} rows{cpu})",
            flush=True,
        )
        _hygiene(spark)


def _objectmode_wordcount(spark, docs):
    """Mirror of q_objectmode_wordcount on the probe corpus: the
    pickled-row parity layer's scaling evidence (VERDICT r7 item 8)."""
    from datasplash_spark.objectmode import CombineFn, PCollection

    pc = PCollection.from_dataframe(docs.select("text"))
    counts = (
        pc.mapcat(lambda d: d["text"].lower().split(" "))
        .map(lambda w: (w, 1))
        .combine_by(
            lambda kv: kv[0],
            CombineFn(
                initf=lambda: 0,
                reducef=lambda acc, kv: acc + kv[1],
                combinef=lambda a, b: a + b,
            ),
        )
        .map(lambda kv: {"token": kv[0], "n": kv[1]})
    )
    return (
        counts.to_dataframe(spark, "token string, n bigint")
        .agg(F.sum("n"))
        .first()[0]
    )


def main() -> int:
    ks = [int(a) for a in sys.argv[1:]] or [1, 2, 5, 10]
    os.makedirs(WORK, exist_ok=True)
    spark = make_session(PipelineOptions(app_name="scale-probe"))
    # warm-up
    spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet")).groupBy(
        "l_returnflag"
    ).count().count()
    warm_workers(spark)
    for k in ks:
        probe(spark, k)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
