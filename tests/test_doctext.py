"""Universal document-text router tests (round 11): every format
family routes to its extractor through one kernel, with per-row
quarantine and a plain-text fallback.
"""

from datasplash_spark.functions import doctext as dt
from datasplash_spark.functions import latex as lx
from datasplash_spark.functions import office as O
from datasplash_spark.functions import rtf as rt
from datasplash_spark.functions.pdf import encode_pdf_text


def test_sniff_routes_every_family():
    cases = {
        "pdf": encode_pdf_text(["x"]),
        "docx": O.encode_docx(["x"]),
        "epub": O.encode_epub(["x"], title="t"),
        "pptx": O.encode_pptx(["x"], title="t"),
        "odt": O.encode_odt(["x"]),
        "rtf": rt.encode_rtf(["x"]),
        "latex": b"\\documentclass{article}\\begin{document}x\\end{document}",
        "html": b"<!DOCTYPE html><html><body><p>x</p></body></html>",
        "text": b"just some plain words",
    }
    for kind, raw in cases.items():
        assert dt.sniff_document_kind(bytes(raw)) == kind, kind
    assert dt.sniff_document_kind(b"") == ""


def test_document_text_features_mixed_corpus(spark):
    docs = [
        (0, encode_pdf_text(["pdf words here"]), "pdf", "pdf words here"),
        (1, O.encode_docx(["docx words here"]), "docx", "docx words here"),
        (2, O.encode_epub(["epub words"], title="t"), "epub",
         "Chapter 0\nepub words"),
        (3, O.encode_pptx(["pptx words"], title="t"), "pptx",
         "Slide 0\npptx words"),
        (4, O.encode_odt(["odt words here"]), "odt", "odt words here"),
        (5, rt.encode_rtf(["rtf words here"]), "rtf", "rtf words here"),
        (6, b"\\begin{document}\\section{S}latex words\\end{document}",
         "latex", "S\nlatex words"),
        (7, b"<html><body><p>html words</p></body></html>", "html",
         "html words"),
        (8, b"plain words", "text", "plain words"),
        (9, b"%PDF-1.4 truncated garbage", "pdf", None),  # quarantine
    ]
    df = spark.createDataFrame(
        [(i, bytearray(raw)) for i, raw, _, _ in docs],
        "doc_id bigint, media binary",
    )
    out = {r.doc_id: r for r in dt.document_text_features(df).collect()}
    assert len(out) == 10
    for i, _, kind, text in docs:
        assert out[i].kind == kind, (i, out[i])
        if text is None:
            assert not out[i].ok and out[i].err
        else:
            assert out[i].ok, (i, out[i])
            assert out[i].text == text, (i, out[i].text)


def test_markdown_to_text_constructs():
    """Markdown extractor (round 12): every construct in the
    CommonMark-core subset resolves — headings keep titles, fences
    keep CONTENT verbatim, inline markup keeps inner text, structure
    lines vanish."""
    from datasplash_spark.functions import markdown as md

    f = md.markdown_to_text
    assert f("# Title here") == "Title here"
    assert f("## Sub ##") == "Sub"                    # closing hashes
    assert f("Title\n===\nbody") == "Title\nbody"     # setext
    assert f("a **bold** b *em* c `code` d") == "a bold b em c code d"
    assert f("see [docs](https://example.com/d) now") == "see docs now"
    assert f("see [docs][ref] now\n\n[ref]: https://example.com/d") == (
        "see docs now"
    )
    assert f("![alt text](https://example.com/i.png)") == "alt text"
    assert f("<https://example.com/auto>") == "https://example.com/auto"
    assert f("> quoted\n> more") == "quoted\nmore"
    assert f("- one\n- two\n1. three\n2) four") == "one\ntwo\nthree\nfour"
    assert f("a\n\n---\n\nb") == "a\nb"               # thematic break
    assert f("```py\nx = **not bold**\n```") == "x = **not bold**"
    assert f("~~~\nfenced ~ content\n~~~") == "fenced ~ content"
    assert f("esc \\*literal\\* stars") == "esc *literal* stars"
    assert f("~~gone~~ kept") == "gone kept"
    assert f("inline <b>html</b> tags") == "inline html tags"
    assert f("a  \t b\n\n\n\nc") == "a b\nc"          # whitespace


def test_markdown_writer_reader_parity():
    """encode_markdown plants the adversarial constructs;
    markdown_to_text must recover exactly markdown_expected_text —
    the same writer/reader parity contract as the office family."""
    from datasplash_spark.functions import markdown as md

    for units in (
        ["alpha beta gamma delta epsilon"],
        ["one two", "three four five six seven"],
        ["solo"],
        ["", "after empty"],
        ["w%d" % j for j in range(1)] and [
            " ".join("w%d%s" % (j, chr(97 + j % 26)) for j in range(17)),
            " ".join("v%d" % j for j in range(4)),
            "tail words here",
        ],
    ):
        raw = md.encode_markdown(units, title="Doc Title")
        got = md.markdown_to_text(raw.decode("utf-8"))
        want = md.markdown_expected_text(units, title="Doc Title")
        assert got == want, (units, got, want)


def test_sniff_markdown_routing():
    """The markdown heuristic routes structural syntax and ONLY
    structural syntax: ATX/fence/setext/link heads route 'md';
    bare emphasis, list markers, or prose stay 'text' (a false
    positive would strip characters; a false negative is
    lossless)."""
    from datasplash_spark.functions import doctext as dtx

    assert dtx.sniff_document_kind(b"# Heading\n\nbody") == "md"
    assert dtx.sniff_document_kind(b"```\ncode\n```\n") == "md"
    assert dtx.sniff_document_kind(b"Title\n====\nbody") == "md"
    assert dtx.sniff_document_kind(
        b"see [docs](https://example.com/) now"
    ) == "md"
    assert dtx.sniff_document_kind(b"plain prose words") == "text"
    assert dtx.sniff_document_kind(b"a *starred* word") == "text"
    assert dtx.sniff_document_kind(b"- a dash list alone") == "text"
    assert dtx.sniff_document_kind(b"#hashtag not heading") == "text"


def test_router_extracts_markdown(spark):
    from datasplash_spark.functions import markdown as md

    units = ["alpha beta gamma", "delta epsilon"]
    df = spark.createDataFrame(
        [(1, bytearray(md.encode_markdown(units)))],
        "doc_id bigint, media binary",
    )
    (row,) = dt.document_text_features(df).collect()
    assert row.kind == "md" and row.ok
    assert row.text == md.markdown_expected_text(units)


def test_document_text_ingest_streaming_and_replay(spark, tmp_path):
    """Streaming mixed-document ingest (round 12): tar shards
    arriving across micro-batches drain through the router; ok rows
    land in the corpus table, a poison member quarantines alone with
    a typed reason, and replaying a batch id leaves BOTH tables
    byte-identical."""
    import pyspark.sql.functions as F

    from datasplash_spark.functions import markdown as md
    from datasplash_spark.sources.archives import write_tar_shards

    src = tmp_path / "dump"
    src.mkdir()
    out = str(tmp_path / "corpus")
    quar = str(tmp_path / "quarantine")
    ckpt = str(tmp_path / "ckpt")

    def write_shard(name, rows):
        df = spark.createDataFrame(
            rows, "shard_id string, key string, ext string, data binary"
        )
        write_tar_shards(
            df.select("shard_id", "key", "ext", "data"),
            str(src / name),
        ).collect()

    # batch 0: markdown + plain text + a GZIPPED markdown member
    # (round 13: the decompression front composes in streaming) + a
    # poison PK blob
    import gzip as _gzip

    write_shard("s0", [
        ("0", "a", "md", bytearray(md.encode_markdown(["alpha beta"]))),
        ("0", "b", "txt", bytearray(b"plain words")),
        ("0", "g", "md.gz", bytearray(
            _gzip.compress(md.encode_markdown(["zipped words"]), mtime=0)
        )),
        ("0", "c", "docx", bytearray(b"PK\x03\x04 corrupt not a zip")),
    ])

    def drain():
        q = dt.document_text_ingest(
            spark, str(src) + "/*/*.tar", out, quar, ckpt,
            trigger="once",
        )
        q.awaitTermination(240)

    drain()
    corpus = spark.read.parquet(out)
    assert {r.kind for r in corpus.collect()} == {"md", "text", "gz:md"}
    assert corpus.count() == 3
    qrows = spark.read.parquet(quar).collect()
    assert len(qrows) == 1 and qrows[0].kind == "zip"
    assert "unroutable" in qrows[0].err

    # batch 1: more docs arrive — including the round-13
    # continuation families (email, logfmt log, a UTF-16LE text
    # transport) and a vCard that must PRIVACY-quarantine
    from datasplash_spark.functions import calendar as _cal
    from datasplash_spark.functions import eml as _eml
    from datasplash_spark.functions import logtext as _lg

    write_shard("s1", [
        ("1", "d", "html",
         bytearray(b"<html><body><p>late page</p></body></html>")),
        ("1", "e", "eml",
         bytearray(_eml.encode_eml(["mail body words"], 9))),
        ("1", "f", "log", bytearray(_lg.encode_log(
            ["svc started", "svc warned", "svc failed", "svc done"],
            9, "logfmt",
        ))),
        ("1", "u", "txt", bytearray(
            b"\xff\xfe" + "wide prose line".encode("utf-16-le")
        )),
        ("1", "v", "vcf", bytearray(_cal.encode_vcf(9))),
    ])
    drain()
    corpus = spark.read.parquet(out)
    assert corpus.count() == 7
    by_kind = {r.kind: r for r in corpus.collect()}
    assert by_kind["eml"].text.startswith("Doc 9")
    assert by_kind["log"].text == (
        "svc started\nsvc warned\nsvc failed\nsvc done"
    )
    assert by_kind["utf16le:text"].text == "wide prose line"
    qrows2 = spark.read.parquet(quar).collect()
    assert len(qrows2) == 2
    assert any(
        r.kind == "vcf" and "PII" in r.err for r in qrows2
    ), qrows2
    before = (
        sorted(map(tuple, spark.read.parquet(out).collect())),
        sorted(map(tuple, spark.read.parquet(quar).collect())),
    )

    # replay: re-run batch 0's ingest body with the same input (the
    # at-least-once contract) — dynamic overwrite of the batch's own
    # partitions must leave both tables identical
    from datasplash_spark.sources.archives import read_tar_shards

    members0 = read_tar_shards(spark, str(src / "s0") + "/*.tar")
    blobs = members0.select(
        F.xxhash64("shard", "member").alias("doc_id"),
        "shard", "member", F.col("data").alias("media"),
    )
    enriched = dt.document_text_features(
        blobs, passthrough=("shard", "member")
    )
    for df, path in (
        (enriched.where(F.col("ok")).select(
            "doc_id", "kind", "n_chars", "text", "shard", "member"
        ), out),
        (enriched.where(~F.col("ok")).select(
            "doc_id", "kind", "err", "shard", "member"
        ), quar),
    ):
        (
            df.withColumn("_batch_id", F.lit(0))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id")
            .parquet(path)
        )
    after = (
        sorted(map(tuple, spark.read.parquet(out).collect())),
        sorted(map(tuple, spark.read.parquet(quar).collect())),
    )
    assert after == before


def test_markdown_review_fixes():
    """Round-12 review regressions: quoted fences keep their code
    verbatim, intraword underscores survive (CommonMark flanking),
    code-span contents stay literal through the other inline passes,
    and literal NUL bytes are dropped rather than colliding with the
    stash placeholders."""
    from datasplash_spark.functions.markdown import markdown_to_text as f

    # 1. fenced code inside a blockquote: fence lines vanish, code
    # content (incl. ** and backtick-looking text) survives verbatim
    assert f("> look:\n> ```py\n> x = a**2 + b**2\n> ```\ndone") == (
        "look:\nx = a**2 + b**2\ndone"
    )
    # 2. intraword underscores are NOT emphasis
    assert f("snake_case_name and more_text_here") == (
        "snake_case_name and more_text_here"
    )
    assert f("_standalone_ emph") == "standalone emph"
    assert f("__strong__ vs dunder__name__attr") == (
        "strong vs dunder__name__attr"
    )
    # 3. code-span contents are literal — links/emphasis inside stay
    assert f("`a [link](x) b`") == "a [link](x) b"
    assert f("run `cmd --flag *glob*` now") == "run cmd --flag *glob* now"
    # 4. literal NULs drop; no placeholder collision
    assert f("a\x0041b") == "a41b"


def test_markdown_extract_oracle_on_nasty_corpus(spark, tmp_path):
    """markdown_extract's oracle must match the Spark path on the
    inputs the stock corpus happens not to contain (review finding,
    round 12): empty text, whitespace-only text, NULL text, and
    markdown-special-heavy text — the md5 pin is corpus-independent."""
    import duckdb

    from datasplash_spark import queries as Q

    rows = [
        (0, ""),
        (1, "   "),
        (2, None),
        (3, "normal words flowing along here"),
        (4, "stars *and* _unders_ [and](links) `and` # hashes ~ pipes|"),
        (5, "\\backslash <tags> !bangs (parens) {braces}"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    sf = str(tmp_path / "nasty")
    import os as _os

    _os.makedirs(sf, exist_ok=True)
    df.coalesce(1).write.mode("overwrite").parquet(sf + "/documents.parquet")

    got = Q.q_markdown_extract(spark, sf).toPandas()
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{sf}/documents.parquet/*.parquet'"
    )
    want = con.sql(Q.ORACLE_MARKDOWN_EXTRACT).df()
    cols = sorted(got.columns)
    assert cols == sorted(want.columns)
    got = got[cols].sort_values(cols, kind="mergesort").reset_index(drop=True)
    want = want[cols].sort_values(cols, kind="mergesort").reset_index(
        drop=True
    )
    import pandas.testing as pdt

    pdt.assert_frame_equal(got, want, check_dtype=True)


def test_router_passthrough_columns(spark):
    """document_text_features(passthrough=...): provenance columns
    ride through the kernel onto both ok and quarantine rows with no
    join — one MapInPandas, zero Exchange."""
    import contextlib
    import io as _io

    from datasplash_spark.functions import markdown as md

    df = spark.createDataFrame(
        [
            (1, bytearray(md.encode_markdown(["alpha beta"])),
             "s0.tar", "a.md"),
            (2, bytearray(b"PK\x03\x04 corrupt"), "s0.tar", "b.docx"),
        ],
        "doc_id bigint, media binary, shard string, member string",
    )
    out = dt.document_text_features(df, passthrough=("shard", "member"))
    rows = {r.doc_id: r for r in out.collect()}
    assert rows[1].ok and rows[1].member == "a.md"
    assert not rows[2].ok and rows[2].member == "b.docx"
    assert rows[2].shard == "s0.tar"
    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("simple")
    plan = buf.getvalue()
    assert "Exchange" not in plan, plan
    assert plan.count("MapInPandas") == 1, plan


def test_markdown_gfm_tables_and_task_lists():
    """GFM tables and task lists (round 12): cell text survives with
    pipes and the separator line dropped (escaped pipes stay literal
    inside a cell), checkboxes strip off task-list items."""
    from datasplash_spark.functions.markdown import markdown_to_text as f

    assert f(
        "| Name | Count |\n"
        "|------|------:|\n"
        "| alpha | 3 |\n"
        "| **bold** | a\\|b |\n"
    ) == "Name Count\nalpha 3\nbold a|b"
    # review round 2: a table exists ONLY with a delimiter-row
    # context — pipe-bounded prose keeps its pipes verbatim
    assert f("no table here\n\n|just|prose|") == (
        "no table here\n|just|prose|"
    )
    assert f("just - prose | here") == "just - prose | here"
    # dash-only CELLS in a data row are content, not a separator
    assert f("| a | b |\n|---|---|\n| - | - |\n| x | y |") == (
        "a b\n- -\nx y"
    )
    # the delimiter row's outer pipes are optional per GFM
    assert f("| a | b |\n--- | ---\n| x | y |") == "a b\nx y"
    # a trailing ESCAPED pipe is cell content, not the table border
    assert f("| a | \\|\n|---|---|") == "a |"
    assert f("- [ ] open task\n- [x] done task\n- plain item") == (
        "open task\ndone task\nplain item"
    )


def test_wikitext_constructs():
    """Wikitext extractor (round 12): every construct in the
    MediaWiki core subset resolves — headings keep titles, links
    keep text/targets, templates/refs/categories/magic words vanish,
    table cells survive, quote-run emphasis drops, entities decode."""
    from datasplash_spark.functions.wikitext import wikitext_to_text as f

    assert f("== History ==\nwords here") == "History\nwords here"
    assert f("=== Deep ===") == "Deep"
    assert f("a '''bold''' b ''em'' c '''''both''''' d") == "a bold b em c both d"
    assert f("see [[Main Page]] and [[Target|label]] now") == (
        "see Main Page and label now"
    )
    assert f("x [[File:pic.jpg|thumb|[[inner|cap]]]] y") == "x y"
    assert f("x [[Category:Stuff]] y") == "x y"
    assert f("a {{cite|url=z}} b {{outer|{{inner}}}} c") == "a b c"
    assert f("a <ref>gone</ref> b <ref name=x/> c") == "a b c"
    assert f("go [https://example.com/d docs] or [https://example.com/e]") == (
        "go docs or"
    )
    assert f("{|\n|+ caption\n|-\n! H1 !! H2\n|-\n| c1 || c2\n|}") == (
        "H1 H2\nc1 c2"
    )
    assert f("* one\n# two\n:: indent\n; term") == "one\ntwo\nindent\nterm"
    assert f("__TOC__\nbody") == "body"
    assert f("a &amp; b &lt;c&gt;") == "a & b <c>"
    assert f("<!-- hidden -->shown") == "shown"


def test_wikitext_writer_reader_parity():
    from datasplash_spark.functions import wikitext as wk

    for units in (
        ["alpha beta gamma delta epsilon"],
        ["one two", "three four five six seven"],
        ["solo"],
        ["", "after empty"],
    ):
        raw = wk.encode_wikitext(units, title="Doc Title")
        got = wk.wikitext_to_text(raw.decode("utf-8"))
        want = wk.wikitext_expected_text(units, title="Doc Title")
        assert got == want, (units, got, want)


def test_sniff_wikitext_and_xml_routing():
    from datasplash_spark.functions import doctext as dtx

    # routing needs corroborated STRONG signals (review round 3): a
    # heading + links, two piped links, a namespace link + template…
    assert dtx.sniff_document_kind(
        b"== History ==\nsee [[Main Page]] and [[Help|help]]"
    ) == "wiki"
    assert dtx.sniff_document_kind(
        b"{{Infobox|x=1}} born in [[Springfield|the city]] "
        b"([[File:pic.jpg]])"
    ) == "wiki"
    # single weak signals are ordinary text, never stripped: Jinja
    # templates, nested list literals, lone links, lone headings
    assert dtx.sniff_document_kind(
        b"Hello {{ user_name }}, your total is 42."
    ) == "text"
    assert dtx.sniff_document_kind(b"result = array([[1, 2]])") == "text"
    assert dtx.sniff_document_kind(b"see [[Main Page]]") == "text"
    assert dtx.sniff_document_kind(b"{{stub}} text") == "text"
    assert dtx.sniff_document_kind(b"== History ==\nbody") == "text"
    # feeds route to their own family since round 13 (the generic
    # pass would keep GUIDs/dates as prose); non-feed XML stays here
    assert dtx.sniff_document_kind(
        b"<?xml version='1.0'?><rss><title>t</title></rss>"
    ) == "feed"
    assert dtx.sniff_document_kind(
        b"<?xml version='1.0'?><doc><title>t</title></doc>"
    ) == "xml"
    # xhtml keeps routing html (the html check runs first)
    assert dtx.sniff_document_kind(
        b"<?xml version='1.0'?><!DOCTYPE html><html><body>x</body></html>"
    ) == "html"
    # a markdown doc with a wiki-ish [x](y) link still routes md
    assert dtx.sniff_document_kind(b"# T\n[d](https://example.com/)") == "md"
    # single '=' heading is ambiguous with setext -> NOT wiki
    assert dtx.sniff_document_kind(b"plain = equals = prose") == "text"


def test_router_extracts_wikitext_and_xml(spark):
    from datasplash_spark.functions import wikitext as wk

    units = ["alpha beta gamma"]
    xml = b"<?xml version='1.0'?><doc><p>first node</p><p>second</p></doc>"
    df = spark.createDataFrame(
        [
            (1, bytearray(wk.encode_wikitext(units))),
            (2, bytearray(xml)),
            (3, bytearray(b"<?xml version='1.0'?><broken><unclosed")),
        ],
        "doc_id bigint, media binary",
    )
    rows = {r.doc_id: r for r in dt.document_text_features(df).collect()}
    assert rows[1].kind == "wiki" and rows[1].ok
    assert rows[1].text == wk.wikitext_expected_text(units)
    assert rows[2].kind == "xml" and rows[2].ok
    assert rows[2].text == "first node\nsecond"
    # malformed xml degrades to the tag-strip fallback, still ok
    assert rows[3].kind == "xml" and rows[3].ok


def test_wikitext_extract_oracle_on_nasty_corpus(spark, tmp_path):
    """wikitext_extract's oracle must match the Spark path on inputs
    the stock corpus may not contain: empty/whitespace/NULL text and
    wikitext-special-heavy text (quotes, braces, pipes, brackets)."""
    import duckdb

    from datasplash_spark import queries as Q

    rows = [
        (0, ""),
        (1, "   "),
        (2, None),
        (3, "normal words flowing along here"),
        (4, "it's a '''quoted''' {{template}} [[link|text]] | pipe"),
        (5, "equals = signs == and __magic__ words &amp; entities"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    sf = str(tmp_path / "nastyw")
    import os as _os

    _os.makedirs(sf, exist_ok=True)
    df.coalesce(1).write.mode("overwrite").parquet(sf + "/documents.parquet")

    got = Q.q_wikitext_extract(spark, sf).toPandas()
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{sf}/documents.parquet/*.parquet'"
    )
    want = con.sql(Q.ORACLE_WIKITEXT_EXTRACT).df()
    cols = sorted(got.columns)
    assert cols == sorted(want.columns)
    got = got[cols].sort_values(cols, kind="mergesort").reset_index(drop=True)
    want = want[cols].sort_values(cols, kind="mergesort").reset_index(
        drop=True
    )
    import pandas.testing as pdt

    pdt.assert_frame_equal(got, want, check_dtype=True)


def test_subtitle_constructs():
    """SRT/VTT extractors (round 12): index/timestamp/header lines
    drop, cue text survives, inline tags and ASS braces strip, and a
    pure-digit TEXT line is not mistaken for a cue index."""
    from datasplash_spark.functions.subtitles import (
        srt_to_text,
        vtt_to_text,
    )

    srt = (
        "1\n00:00:00,000 --> 00:00:01,500\n{\\an8}first <i>cue</i>\n\n"
        "2\n00:00:02,000 --> 00:00:03,500\nsecond line\nwraps here\n\n"
        "3\n00:00:04,000 --> 00:00:05,500\n42\n"
    )
    assert srt_to_text(srt) == "first cue\nsecond line\nwraps here\n42"
    vtt = (
        "WEBVTT Kind: captions\n\nNOTE internal\ncomment\n\n"
        "cue1\n00:01.000 --> 00:02.500 align:start\n"
        "<v Ann>hello <c.yellow>there</c>\n\n"
        "00:03.000 --> 00:04.000\nno identifier\n"
    )
    assert vtt_to_text(vtt) == "hello there\nno identifier"


def test_subtitle_writer_reader_parity():
    from datasplash_spark.functions import subtitles as st

    for cues in (
        ["alpha beta gamma delta"],
        ["one two", "three four five"],
        ["solo"],
        ["", "after empty"],
    ):
        want = st.subtitles_expected_text(cues)
        assert st.srt_to_text(st.encode_srt(cues).decode()) == want
        assert st.vtt_to_text(st.encode_vtt(cues).decode()) == want


def test_router_extracts_subtitles(spark):
    from datasplash_spark.functions import subtitles as st

    cues = ["alpha beta gamma"]
    df = spark.createDataFrame(
        [
            (1, bytearray(st.encode_srt(cues))),
            (2, bytearray(st.encode_vtt(cues))),
        ],
        "doc_id bigint, media binary",
    )
    rows = {r.doc_id: r for r in dt.document_text_features(df).collect()}
    assert rows[1].kind == "srt" and rows[1].ok
    assert rows[2].kind == "vtt" and rows[2].ok
    want = st.subtitles_expected_text(cues)
    assert rows[1].text == want and rows[2].text == want


def test_subtitles_extract_oracle_on_nasty_corpus(spark, tmp_path):
    import duckdb

    from datasplash_spark import queries as Q

    rows = [
        (0, ""),
        (1, "   "),
        (2, None),
        (3, "normal words flowing along here"),
        (4, "tags <i>like</i> these {braces} & ampersands"),
        (5, "42"),  # a pure-digit document
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    sf = str(tmp_path / "nastys")
    import os as _os

    _os.makedirs(sf, exist_ok=True)
    df.coalesce(1).write.mode("overwrite").parquet(sf + "/documents.parquet")

    got = Q.q_subtitles_extract(spark, sf).toPandas()
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{sf}/documents.parquet/*.parquet'"
    )
    want = con.sql(Q.ORACLE_SUBTITLES_EXTRACT).df()
    cols = sorted(got.columns)
    assert cols == sorted(want.columns)
    got = got[cols].sort_values(cols, kind="mergesort").reset_index(drop=True)
    want = want[cols].sort_values(cols, kind="mergesort").reset_index(
        drop=True
    )
    import pandas.testing as pdt

    pdt.assert_frame_equal(got, want, check_dtype=True)


def test_sniff_bom_and_crlf_variants():
    """Review round 3: BOM'd XML/VTT and CRLF SRT (the dominant
    real-world forms) must route to their extractors, not leak raw
    markup as 'text'."""
    from datasplash_spark.functions import doctext as dtx

    assert dtx.sniff_document_kind(
        b"\xef\xbb\xbf<?xml version='1.0'?><r><a>x</a></r>"
    ) == "xml"
    assert dtx.sniff_document_kind(b"\xef\xbb\xbfWEBVTT\n") == "vtt"
    assert dtx.sniff_document_kind(
        b"1\r\n00:00:00,000 --> 00:00:01,000\r\nHello world\r\n"
    ) == "srt"
    assert dtx.sniff_document_kind(
        b"\xef\xbb\xbf1\n00:00:00,000 --> 00:00:01,000\nHello\n"
    ) == "srt"


def test_markdown_heading_beats_table_header():
    """Review round 3: a heading or list line containing a pipe
    above a delimiter row is a heading/list per GFM, never a table
    header — block markers must not leak into cell text."""
    from datasplash_spark.functions.markdown import markdown_to_text as f

    assert f("# Title | note\n|---|---|\n| x | y |") == (
        "Title | note\n|---|---|\n| x | y |"
    )
    assert f("- item | note\n|---|---|") == "item | note\n|---|---|"
    # a real table under a heading still extracts
    assert f("# T\n\n| a | b |\n|---|---|\n| x | y |") == "T\na b\nx y"


def test_wikitext_ref_with_slash_attribute():
    from datasplash_spark.functions.wikitext import wikitext_to_text as f

    assert f('a <ref name="nytimes.com/2020">cite body</ref> b') == "a b"
    assert f("a <ref name=x/> b") == "a b"


def _fuzz_gate_names(all_gates: bool = False):
    """The divergent-char fuzz targets. The DEFAULT set keeps the
    four highest-leverage gates (markdown — the original ADVICE
    finding; tabular and notebook — each caught a REAL bug when
    added; doctext_sweep — sixteen families under one query, so the
    sweep transitively fuzzes every family's normalization); the
    slow twin runs the full ten (conftest contract: every slow test
    names its default sibling)."""
    base = (
        "markdown_extract", "tabular_extract", "notebook_extract",
        "doctext_sweep",
    )
    extra = (
        "wikitext_extract", "subtitles_extract", "code_extract",
        "parquet_extract", "compressed_extract",
        "av_transcript_pairs", "email_extract", "log_extract",
        "feed_extract", "ics_extract", "charset_extract",
    )
    return base + extra if all_gates else base


def test_modality_gates_survive_divergent_edge_chars(spark, tmp_path):
    """ADVICE r12 regression: corpus text carrying NUL or non-ASCII
    str.strip() whitespace (U+00A0, U+2028, U+3000, ...) used to
    diverge between the extractors (which drop/strip them) and the
    re.ASCII-flagged synthesizer normalization + RE2 oracle (which
    kept them). Both sides now replace the shared
    SYNTH_DIVERGENT_CHARS set, so the full driver-faithful gate must
    hold on a corpus made of exactly those characters."""
    import os
    import sys

    import pandas as pd

    scripts = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "scripts",
    )
    if scripts not in sys.path:
        sys.path.insert(0, scripts)
    from check_oracle import _compare_one, oracle_views

    from datasplash_spark import queries as Q

    texts = [
        "\x00",
        "\xa0leading nbsp words",
        "\u2028line sep first",
        "word\u3000ideographic space tail",
        "mix \x00 nul and\xa0nbsp\u2029ps end",
        "\x85nel\u1680ogham\u2009thin",
        "plain ascii control case",
        "",
    ]
    pd.DataFrame(
        {
            "doc_id": range(1, len(texts) + 1),
            "text": texts,
            "lang": ["en"] * len(texts),
            "source": ["fuzz"] * len(texts),
            "n_chars": [len(t) for t in texts],
        }
    ).to_parquet(str(tmp_path / "documents.parquet"))
    con = oracle_views(str(tmp_path))
    for name in _fuzz_gate_names():
        fn, sql = Q._ALL[name]
        failed, line = _compare_one(
            spark, con, str(tmp_path), name, fn, sql
        )
        assert not failed, line


def test_xml_extraction_rejects_dtd_entity_expansion():
    """ADVICE r12: _xml_to_text_py feeds untrusted crawl bytes to
    ElementTree; a DOCTYPE carrying recursive entity definitions
    (billion laughs) would expand on hosts with old libexpat. Any
    DTD now takes the regex-strip fallback — which never expands
    entities — and extraction still returns the visible text."""
    bomb = (
        b'<?xml version="1.0"?>\n'
        b"<!DOCTYPE lolz [\n"
        b'  <!ENTITY lol "lol">\n'
        + b"".join(
            b'  <!ENTITY lol%d "' % i
            + (b"&lol%d;" % (i - 1)) * 10
            + b'">\n'
            for i in range(1, 10)
        )
        + b"]>\n<lolz>&lol9;</lolz>"
    )
    out = dt._xml_to_text_py(bomb)
    # no expansion: the fallback strips declarations and tags; the
    # unexpanded entity reference survives as text, megabytes of
    # "lol" must not
    assert len(out) < 1000 and "lol9" in out
    # plain well-formed XML still walks the parser
    assert dt._xml_to_text_py(
        b"<?xml version='1.0'?><a><b>hello</b> <c>world</c></a>"
    ) == "hello\nworld"


def test_code_writer_reader_parity_and_stats():
    """encode_code plants the detector + line-scanner constructs;
    code_to_text must return the file VERBATIM (the lossless
    contract) and code_line_stats must match the closed-form
    expected counts — the writer/reader parity contract of every
    codec family, plus the stats half."""
    from datasplash_spark.functions import code as C

    for want_lang in ("python", "c", "javascript"):
        for units in (
            ["alpha beta gamma delta epsilon"],
            ["one two", "three four five six seven"],
            ["solo"],
            ["", "after empty"],
            [" ".join("w%d" % j for j in range(17)), "v0 v1", "tail"],
        ):
            src = C.encode_code(units, 42, want_lang).decode("utf-8")
            assert C.code_to_text(src) == C.code_expected_text(
                units, 42, want_lang
            )
            lang = C.detect_code_lang(src[:4096])
            assert lang == want_lang, (want_lang, units, lang)
            st = C.code_line_stats(src, lang)
            exp = C.code_expected_stats(units, want_lang)
            assert all(st[k] == exp[k] for k in exp), (
                want_lang, units, st, exp,
            )


def test_code_line_scanner_string_awareness():
    """The scanner's headline rule: a comment marker inside a string
    literal is CODE; triple-quoted bodies are code; C-family block
    comments count as comments across lines."""
    from datasplash_spark.functions import code as C

    st = C.code_line_stats(
        's = "not # a comment"\n# real\nd = """\n# inside docstring\n"""\nx = 1',
        "python",
    )
    assert st == {
        "n_lines": 6, "comment_lines": 1, "blank_lines": 0,
        "code_lines": 5, "max_line_len": 21,
    }, st
    st = C.code_line_stats(
        'url = "http://x" // 2\n// real comment\n/* block\nstill block\n*/\nint x;',
        "c",
    )
    # the '//' inside the string line starts with 'url' -> code;
    # the /* */ block spans three comment lines
    assert st["comment_lines"] == 4 and st["code_lines"] == 2, st


def test_code_detection_is_conservative():
    """Prose that merely starts with import/from, markdown heads,
    and wikitext must never route as code; one strong shape alone is
    not enough."""
    from datasplash_spark.functions import code as C
    from datasplash_spark.functions import markdown as md
    from datasplash_spark.functions import wikitext as wk

    d = C.detect_code_lang
    assert d("import duties rose again as trade talks stalled") is None
    assert d("from the beginning of time, people wondered") is None
    assert d("# Heading\n\nsome prose body here") is None
    assert d("import os\nplain prose follows here") is None
    assert d(md.encode_markdown(["a b c"], title="T").decode()) is None
    assert d(wk.encode_wikitext(["a b c"]).decode()) is None
    # and real code in each family detects
    assert d("#!/usr/bin/env python3\n") == "python"
    assert d("#include <stdio.h>\n#define MAX 10\n") == "c"
    assert d(
        "int add(int a,int b);\nint sub(int a,int b);\n"
    ) == "c"  # declaration lines: would sniff csv without code precedence
    assert d("package main\n\nfunc main() {\n}") == "go"
    assert d("use std::io;\npub fn run() {}\n") == "rust"
    assert d("const x = 1\nimport fs from 'fs'\n") == "javascript"
    assert d(
        "package com.example;\nimport java.util.List;\n"
    ) == "java"


def test_tabular_writer_reader_parity():
    """encode_csv / encode_jsonl plant the RFC 4180 / JSON Lines
    adversarial constructs (quoted commas, doubled quotes, embedded
    newline cells, bools, nulls, nested arrays); the readers must
    flatten to exactly the expected text, and the ragged/malformed
    twins must raise TYPED errors."""
    import pytest as _pytest

    from datasplash_spark.functions import tabular as T

    for units in (
        ["alpha, beta gamma", "delta epsilon"],
        ["solo"],
        ["", "after empty"],
        ["commas, every, where", "none here", "a, b"],
    ):
        csv_src = T.encode_csv(units).decode()
        assert T.csv_to_text(csv_src) == T.csv_expected_text(units)
        jl_src = T.encode_jsonl(units).decode()
        assert T.jsonl_to_text(jl_src) == T.jsonl_expected_text(units)
    with _pytest.raises(ValueError, match="ragged row"):
        T.csv_to_text(T.encode_csv(["a b"], ragged=True).decode())
    with _pytest.raises(ValueError, match="unparseable"):
        T.jsonl_to_text(T.encode_jsonl(["a b"], malformed=True).decode())
    # TSV: tabs win the delimiter re-sniff
    assert (
        T.csv_to_text("id\tname\n1\talice smith\n2\tbob")
        == "id name\n1 alice smith\n2 bob"
    )


def test_tabular_sniff_is_conservative():
    """Prose commas (``one, two`` — fields with edge whitespace),
    JSON arrays, short docs, and the other families' fixtures must
    not route tabular; exporter-shaped CSV/TSV/JSONL must."""
    from datasplash_spark.functions import markdown as md
    from datasplash_spark.functions import tabular as T

    s = T.sniff_tabular_kind
    assert s("one, two\nthree, four\nfive, six\n") is None
    assert s("[1, 2, 3]") is None
    assert s("plain prose words here\nmore words\n") is None
    assert s("a,b\nc,d\n") is None  # two comma records: too short
    assert s(md.encode_markdown(["a b"], title="T").decode()) is None
    assert s(T.encode_csv(["a b"]).decode()) == "csv"
    assert s(T.encode_jsonl(["a b"]).decode()) == "jsonl"
    assert s('{"k": 1}') == "jsonl"
    assert s("id\tname\n1\talice\n") == "csv"
    # head truncated mid-record must not crash
    assert s(T.encode_csv(["x y z"] * 50).decode()[:100]) in ("csv", None)


def test_router_extracts_code_and_tabular(spark):
    """The universal router routes and extracts the two round-13
    families end-to-end, code losslessly (a script with a
    ``# comment`` head must NOT be stripped by the md pass), and a
    ragged CSV quarantines typed while siblings extract."""
    from datasplash_spark.functions import code as C
    from datasplash_spark.functions import tabular as T

    script = b"# setup notes\nimport os\nfrom sys import path\n\ndef go():\n    pass\n"
    df = spark.createDataFrame(
        [
            (1, bytearray(C.encode_code(["alpha beta"], 1))),
            (2, bytearray(T.encode_csv(["gamma, delta"]))),
            (3, bytearray(T.encode_jsonl(["epsilon zeta"]))),
            (4, bytearray(T.encode_csv(["bad doc"], ragged=True))),
            (5, bytearray(script)),
        ],
        "doc_id bigint, media binary",
    )
    rows = {r.doc_id: r for r in dt.document_text_features(df).collect()}
    assert rows[1].kind == "code" and rows[1].ok
    assert rows[1].text == C.code_expected_text(["alpha beta"], 1)
    assert rows[2].kind == "csv" and rows[2].ok
    assert rows[2].text == T.csv_expected_text(["gamma, delta"])
    assert rows[3].kind == "jsonl" and rows[3].ok
    assert rows[3].text == T.jsonl_expected_text(["epsilon zeta"])
    assert rows[4].kind == "csv" and not rows[4].ok
    assert "ragged row" in rows[4].err
    assert rows[5].kind == "code" and rows[5].ok
    assert rows[5].text == script.decode()  # lossless: '#' head intact


def test_log_writer_reader_parity():
    """encode_log plants the five dialect grammars (RFC 3164
    syslog, ISO app log with a component token and an ERROR
    continuation, NCSA CLF, RFC 5424 versioned syslog with pri
    classing, logfmt with a quoted msg value); the scanner must
    extract exactly the expected message text and closed-form
    counters, and binary / header-free content must raise TYPED
    errors."""
    import pytest as _pytest

    from datasplash_spark.functions import logtext as L

    for d in (
        "syslog", "iso", "clf", "syslog5424", "logfmt", "jsonlog"
    ):
        for units in (
            ["alpha beta", "gamma", "delta epsilon zeta"],
            ["solo"],
            [""],
            ["one", "two"],
        ):
            src = L.encode_log(units, 42, d).decode()
            text, st = L._log_scan(src)
            assert text == L.log_expected_text(units, 42, d)
            exp = L.log_expected_stats(units, d)
            assert {k: st[k] for k in exp} == exp
    with _pytest.raises(ValueError, match="binary"):
        L.log_to_text(L.POISON_LOG.decode("utf-8", "replace"))
    with _pytest.raises(ValueError, match="no parseable"):
        L.log_to_text("just words\nmore words")
    # a multi-line traceback attaches to its ERROR message; the
    # next header starts a fresh one
    text, st = L._log_scan(
        "2024-01-01T00:00:00Z ERROR [svc] boom\n"
        "Traceback (most recent call last):\n"
        '  File x.py, line 1\n'
        "ValueError: boom\n"
        "2024-01-01T00:00:01Z INFO [svc] next"
    )
    assert st["n_messages"] == 2 and st["n_error"] == 1
    assert text.split("\n")[0].endswith("ValueError: boom")
    # rotation slice: an orphan leading tail is its own message,
    # never a poison row
    text, st = L._log_scan(
        "  orphan tail\nJan  2 03:04:05 h app[1]: real"
    )
    assert text == "orphan tail\nreal" and st["n_messages"] == 2
    # logfmt: escaped quotes inside msg unescape; severity from
    # level=; a stray prose x=1 or python kwargs never read logfmt
    text, st = L._log_scan('ts=1 level=error msg="say \\"hi\\" now"')
    assert text == 'say "hi" now' and st["n_error"] == 1
    assert L._match_header("the value x=1 was set") is None
    assert L._match_header("f(a=1, b=2)") is None
    # RFC 5424: severity straight from pri & 7
    text, st = L._log_scan(
        "<11>1 2024-01-01T00:00:00Z h app 1 ID0 - boom\n"
        "<14>1 2024-01-01T00:00:01Z h app 1 ID1 - fine"
    )
    assert st["dialect"] == "syslog5424" and st["n_error"] == 1
    # json logs read as log (two staple keys); DATA jsonl does not
    assert (
        L._match_header('{"time":"t","level":"warn","msg":"m"}')
        is not None
    )
    assert L._match_header('{"rid":0,"words":"alpha"}') is None
    # CRLF logfmt parses (Windows-origin files split on LF leave a
    # trailing CR; review finding) and a JSON null msg reads empty
    text, st = L._log_scan(
        'ts=1 level=error msg="boom"\r\nts=2 level=info msg="ok"\r\n'
    )
    assert text == "boom\nok" and st["n_error"] == 1
    assert L._match_header(
        '{"time":"t","level":"info","msg":null}'
    )[1] == ""
    # json logs read as log (two staple keys); DATA jsonl does not
    assert L._match_header('{"time":"t","level":"warn","msg":"m"}') is not None
    assert L._match_header('{"rid":0,"words":"alpha"}') is None


def test_log_sniff_is_conservative():
    """Prose, CSV (even with ISO-timestamp cells), SRT cues,
    markdown, and code must not route log; all three dialect
    fixtures and a tab-separated ISO log (which the tabular sniff
    would otherwise claim and flatten lossily) must."""
    from datasplash_spark.functions import code as C
    from datasplash_spark.functions import logtext as L

    assert not L.sniff_log("plain prose\nJan weather cold\nwords")
    assert not L.sniff_log("a,b,c\n1,2,3\n4,5,6\n7,8,9\n")
    assert not L.sniff_log(
        "2024-01-01T00:00:00Z,INFO,comma separated\n" * 5
    )
    assert not L.sniff_log("1\n00:00:01,000 --> 00:00:02,000\nhi\n")
    assert not L.sniff_log("# Heading\n\nsome markdown\n")
    assert not L.sniff_log(
        C.encode_code(["a b"], 1, "python").decode()
    )
    for d in (
        "syslog", "iso", "clf", "syslog5424", "logfmt", "jsonlog"
    ):
        head = L.encode_log(
            ["m one", "m two", "m three", "m four"], 1, d
        ).decode()
        assert L.sniff_log(head), d
    tsv_log = "\n".join(
        "2024-01-01T00:00:%02dZ\tINFO\tmessage %d" % (i, i)
        for i in range(6)
    )
    assert L.sniff_log(tsv_log)
    assert dt.sniff_document_kind(tsv_log.encode()) == "log"


def test_router_extracts_logs(spark):
    """The universal router routes and extracts the log family
    end-to-end across all three dialects, composes with the gz
    transport, and quarantines the binary poison blob typed while
    siblings extract."""
    import gzip

    from datasplash_spark.functions import logtext as L

    sys_units = ["alpha beta", "gamma", "delta"]
    iso_units = ["gamma", "delta", "epsilon"]
    clf_units = ["eps zeta", "eta", "theta"]
    df = spark.createDataFrame(
        [
            (1, bytearray(L.encode_log(sys_units, 1, "syslog"))),
            (2, bytearray(L.encode_log(iso_units, 2, "iso"))),
            (3, bytearray(L.encode_log(clf_units, 3, "clf"))),
            (4, bytearray(gzip.compress(
                L.encode_log(["zipped msg", "two", "three"], 4, "iso")
            ))),
            # below the >=3-header sniff floor: a 2-line log stays
            # plain text (lossless — the conservative direction)
            (5, bytearray(L.encode_log(["a", "b"], 5, "iso"))),
        ],
        "doc_id bigint, media binary",
    )
    rows = {r.doc_id: r for r in dt.document_text_features(df).collect()}
    assert rows[1].kind == "log" and rows[1].ok
    assert rows[1].text == L.log_expected_text(sys_units, 1, "syslog")
    assert rows[2].kind == "log" and rows[2].ok
    assert rows[2].text == L.log_expected_text(iso_units, 2, "iso")
    assert rows[3].kind == "log" and rows[3].ok
    assert rows[3].text == L.log_expected_text(clf_units, 3, "clf")
    assert rows[4].kind == "gz:log" and rows[4].ok
    assert rows[4].text == L.log_expected_text(
        ["zipped msg", "two", "three"], 4, "iso"
    )
    assert rows[5].kind == "text" and rows[5].ok


def test_feed_writer_reader_parity():
    """encode_rss / encode_atom plant the plumbing that must vanish
    (links, GUIDs, dates, authors) and the two body conventions
    (HTML-escaped RSS descriptions, plain Atom summaries); the
    grammar walk must extract exactly the expected text, and
    unparseable / DTD-carrying feeds must raise TYPED errors."""
    import pytest as _pytest

    from datasplash_spark.functions import feeds as FD

    for atom in (False, True):
        enc = FD.encode_atom if atom else FD.encode_rss
        for units in (
            ["alpha beta", "gamma"],
            ["solo"],
            [""],
            ["a", "b", "c"],
        ):
            raw = enc(units, 42)
            assert FD.feed_to_text(raw) == FD.feed_expected_text(
                units, 42, atom
            )
            assert FD.feed_entry_count(raw) == len(units)
    # escaped markup inside a description round-trips through the
    # parser un-escape + html strip
    raw = FD.encode_rss(["a < b & c"], 1)
    assert FD.feed_to_text(raw) == "Feed d1\nEntry 0\na < b & c"
    # Atom 0.3 (purl.org/atom/ns#) sniffs identically and must
    # extract, not silently return title-only text (review finding)
    atom03 = (
        b'<?xml version="1.0"?>'
        b'<feed version="0.3" xmlns="http://purl.org/atom/ns#">'
        b"<title>Old Feed</title>"
        b"<entry><title>E0</title><summary>body zero</summary></entry>"
        b"</feed>"
    )
    assert FD.feed_to_text(atom03) == "Old Feed\nE0\nbody zero"
    assert FD.feed_entry_count(atom03) == 1
    with _pytest.raises(ValueError, match="unparseable"):
        FD.feed_to_text(FD.POISON_FEED)
    with _pytest.raises(ValueError, match="DTD"):
        FD.feed_to_text(
            b'<?xml version="1.0"?><!DOCTYPE rss [<!ENTITY x "y">]>'
            b'<rss version="2.0"><channel><title>t</title>'
            b"</channel></rss>"
        )


def test_feed_routing_vs_generic_xml(spark):
    """Feeds route 'feed' (BEFORE generic xml — the plumbing-drop
    rule); sitemaps, JATS-ish dumps, and declaration-less non-feed
    XML stay on the generic path; a declaration-less feed and a
    comment-prefixed feed still route; the router extracts both
    grammars end-to-end and quarantines the poison blob typed."""
    from datasplash_spark.functions import feeds as FD

    s = dt.sniff_document_kind
    assert s(FD.encode_rss(["x y"], 2)) == "feed"
    assert s(FD.encode_atom(["x y"], 3)) == "feed"
    assert s(
        b'<rss version="2.0"><channel><title>t</title>'
        b"</channel></rss>"
    ) == "feed"
    assert s(
        b'<?xml version="1.0"?><!-- gen --><feed '
        b'xmlns="http://www.w3.org/2005/Atom"><title>t</title></feed>'
    ) == "feed"
    assert s(
        b'<?xml version="1.0"?><urlset xmlns="x"><url>'
        b"<loc>https://e/</loc></url></urlset>"
    ) == "xml"
    assert s(
        b'<?xml version="1.0"?><article><title>JATS</title>'
        b"</article>"
    ) == "xml"
    df = spark.createDataFrame(
        [
            (1, bytearray(FD.encode_rss(["alpha beta", "gamma"], 1))),
            (2, bytearray(FD.encode_atom(["delta"], 2))),
            (3, bytearray(FD.POISON_FEED)),
        ],
        "doc_id bigint, media binary",
    )
    rows = {r.doc_id: r for r in dt.document_text_features(df).collect()}
    assert rows[1].kind == "feed" and rows[1].ok
    assert rows[1].text == FD.feed_expected_text(
        ["alpha beta", "gamma"], 1
    )
    assert rows[2].kind == "feed" and rows[2].ok
    assert rows[2].text == FD.feed_expected_text(["delta"], 2, True)
    assert rows[3].kind == "feed" and not rows[3].ok
    assert "unparseable" in rows[3].err


def test_calendar_writer_reader_parity():
    """encode_ics plants the RFC 5545 pins (folded lines — including
    a fold that splits an escape sequence — escaped commas, VALARM
    bodies, DTSTART/RRULE/UID/ORGANIZER plumbing); the envelope walk
    must extract exactly the expected prose, truncated exports must
    raise TYPED, and vCard input must hit the privacy quarantine."""
    import pytest as _pytest

    from datasplash_spark.functions import calendar as CA

    for units in (
        ["alpha beta", "gamma"],
        ["solo"],
        [""],
        ["a", "b", "c"],
        ["x" * 40],
    ):
        raw = CA.encode_ics(units, 42).decode()
        assert CA.ics_to_text(raw) == CA.ics_expected_text(units, 42)
        assert CA.ics_event_count(raw) == len(units)
    # a fold splitting the backslash escape: unfold must run before
    # unescape
    src = (
        "BEGIN:VCALENDAR\r\nBEGIN:VEVENT\r\nSUMMARY:S\r\n"
        "DESCRIPTION:a\\\r\n ,b\r\nEND:VEVENT\r\nEND:VCALENDAR"
    )
    assert CA.ics_to_text(src) == "S\na,b"
    with _pytest.raises(ValueError, match="unterminated"):
        CA.ics_to_text(
            "BEGIN:VCALENDAR\r\nBEGIN:VEVENT\r\nSUMMARY:x\r\n"
        )
    # quoted param values may contain colons (RFC 5545 §3.2); the
    # param scan must not split the value there (review finding)
    src = (
        "BEGIN:VCALENDAR\r\nBEGIN:VEVENT\r\n"
        'SUMMARY;ALTREP="cid:part1.example":The Title\r\n'
        'DESCRIPTION;ALTREP="http://e/x?a=1":body text\r\n'
        "END:VEVENT\r\nEND:VCALENDAR"
    )
    assert CA.ics_to_text(src) == "The Title\nbody text"
    assert CA.sniff_calendar("BEGIN:VCALENDAR\nVERSION:2.0") == "ics"
    assert CA.sniff_calendar("\nBEGIN:VCARD\nVERSION:4.0") == "vcf"
    assert CA.sniff_calendar("plain prose") is None


def test_router_calendar_and_vcard_privacy(spark):
    """The router extracts iCalendar prose and QUARANTINES vCard
    dumps typed — a contact dump is PII by construction and must
    never enter the corpus, exactly like a media blob."""
    from datasplash_spark.functions import calendar as CA

    assert dt.sniff_document_kind(CA.encode_ics(["x y"], 1)) == "ics"
    assert dt.sniff_document_kind(CA.encode_vcf(1)) == "vcf"
    df = spark.createDataFrame(
        [
            (1, bytearray(CA.encode_ics(["alpha beta", "gamma"], 1))),
            (2, bytearray(CA.encode_vcf(2))),
        ],
        "doc_id bigint, media binary",
    )
    rows = {r.doc_id: r for r in dt.document_text_features(df).collect()}
    assert rows[1].kind == "ics" and rows[1].ok
    assert rows[1].text == CA.ics_expected_text(
        ["alpha beta", "gamma"], 1
    )
    assert rows[2].kind == "vcf" and not rows[2].ok
    assert "PII" in rows[2].err


def test_charset_transports_and_fallback():
    """Encoding transports (round 13): UTF-16/32 documents — BOM'd
    or detected via the one-sided NUL lattice — decode strictly and
    re-sniff (composing with inner formats and the gz layer);
    corrupt payloads raise typed; plain text falls back UTF-8-strict
    → cp1252 so smart quotes stop becoming U+FFFD; binary with NULs
    on both parities never routes as a transport."""
    import gzip

    import pytest as _pytest

    from datasplash_spark.functions import markdown as mdw

    content = "plain prose line one\nand a second line"
    for enc, kind, bom in (
        ("utf-16-le", "utf16le", b"\xff\xfe"),
        ("utf-16-be", "utf16be", b"\xfe\xff"),
        ("utf-32-le", "utf32le", b"\xff\xfe\x00\x00"),
        ("utf-32-be", "utf32be", b"\x00\x00\xfe\xff"),
    ):
        raw = bom + content.encode(enc)
        assert dt.sniff_document_kind(raw) == kind
        assert dt.extract_document_text(raw) == (
            f"{kind}:text", content
        )
    # BOM-less UTF-16 via the NUL lattice
    assert dt.extract_document_text(content.encode("utf-16-le")) == (
        "utf16le:text", content
    )
    # transport composes with an inner extractor and with gz
    raw = b"\xff\xfe" + mdw.encode_markdown(["alpha beta"]).decode(
        "utf-8"
    ).encode("utf-16-le")
    assert dt.extract_document_text(raw)[0] == "utf16le:md"
    gz = gzip.compress(b"\xff\xfe" + content.encode("utf-16-le"))
    assert dt.extract_document_text(gz)[0] == "gz:utf16le:text"
    # truncated code unit quarantines typed
    with _pytest.raises(ValueError, match="corrupt transport"):
        dt.extract_document_text(
            b"\xff\xfe" + content.encode("utf-16-le") + b"\x41"
        )
    # cp1252 fallback; valid UTF-8 never touches it; BOM char strips
    raw = "caf\xe9 — na\xefve … end".encode("cp1252")
    assert dt.extract_document_text(raw) == (
        "text", "café — naïve … end"
    )
    assert dt.extract_document_text(
        "café — naïve".encode("utf-8")
    )[1] == "café — naïve"
    assert dt.extract_document_text(b"\xef\xbb\xbfplain words")[1] == (
        "plain words"
    )
    blob = bytes(range(256)) * 4
    assert dt.sniff_document_kind(blob) not in (
        "utf16le", "utf16be", "utf32le", "utf32be"
    )


def test_tabular_and_code_windows_line_endings():
    """Round-13 review pins: CRLF CSV parses record-wise (the csv
    module owns the EOL), an embedded CRLF inside a quoted cell
    flattens to one space, and the python line scanner does not let
    a triple-quote sequence inside an ordinary string flip
    docstring state."""
    from datasplash_spark.functions import code as C
    from datasplash_spark.functions import tabular as T

    assert T.csv_to_text("id,name\r\n1,alice\r\n2,bob") == (
        "id name\n1 alice\n2 bob"
    )
    assert T.csv_to_text('a,"x\r\ny"\nq,w') == "a x y\nq w"
    assert T.sniff_tabular_kind("id,name\r\n1,a\r\n2,b\r\n3,c\r\n") == "csv"
    assert T.jsonl_to_text('{"a": 1}\r\n{"a": 2}') == "1\n2"
    st = C.code_line_stats("x = \"'''\"\n# comment\ny = 1", "python")
    assert st["comment_lines"] == 1 and st["code_lines"] == 2, st


def test_compression_front_routes_and_guards():
    """Round 13: gz/bz2/xz transports decompress bounded and
    recurse once into the inner document (composed kinds); a third
    layer, a truncated stream, and a 100 MiB decompression bomb all
    raise TYPED errors that quarantine their document."""
    import bz2
    import gzip
    import lzma

    import pytest as _pytest

    from datasplash_spark.functions import markdown as md

    units = ["alpha beta", "gamma"]
    inner = md.encode_markdown(units)
    for comp, fn in (
        ("gz", lambda b: gzip.compress(b, mtime=0)),
        ("bz2", bz2.compress),
        ("xz", lzma.compress),
    ):
        raw = fn(inner)
        assert dt.sniff_document_kind(raw) == comp
        k, t = dt.extract_document_text(raw)
        assert k == comp + ":md"
        assert t == md.markdown_expected_text(units)
    double = gzip.compress(gzip.compress(inner, mtime=0), mtime=0)
    assert dt.extract_document_text(double)[0] == "gz:gz:md"
    with _pytest.raises(ValueError, match="nested compression"):
        dt.extract_document_text(gzip.compress(double, mtime=0))
    with _pytest.raises(ValueError, match="truncated stream"):
        dt.extract_document_text(b"\x1f\x8b\x08\x00poison")
    with _pytest.raises(ValueError, match="corrupt stream"):
        dt.extract_document_text(
            b"\x1f\x8b\x08\x00" + b"\x00" * 6 + b"\xff" * 64
        )
    with _pytest.raises(ValueError, match="bomb guard"):
        dt.extract_document_text(
            gzip.compress(b"\x00" * (100 << 20), mtime=0)
        )


def test_parquet_writer_reader_parity():
    """encode_parquet / parquet_to_text parity: header line, row
    flatten, compact numeric rendering, the NULL-words row
    vanishing to its rid; corrupt bytes raise typed."""
    import pytest as _pytest

    from datasplash_spark.functions import tabular as T

    for units in (["alpha, beta", "gamma delta"], ["solo"], [""],
                  ["", "x y z"]):
        raw = T.encode_parquet(units)
        assert raw[:4] == b"PAR1"
        assert dt.sniff_document_kind(raw) == "parquet"
        assert T.parquet_to_text(raw) == T.parquet_expected_text(units)
    with _pytest.raises(Exception):
        T.parquet_to_text(b"PAR1 not really parquet PAR1")


def test_router_extracts_compressed_and_parquet(spark):
    """The universal router routes both round-13 container families
    end-to-end in one Spark kernel, with the truncated-gzip poison
    quarantining typed while siblings extract."""
    import gzip

    from datasplash_spark.functions import markdown as md
    from datasplash_spark.functions import tabular as T

    units = ["alpha beta"]
    df = spark.createDataFrame(
        [
            (1, bytearray(gzip.compress(md.encode_markdown(units), mtime=0))),
            (2, bytearray(T.encode_parquet(units))),
            (3, bytearray(b"\x1f\x8b\x08\x00poison")),
        ],
        "doc_id bigint, media binary",
    )
    rows = {r.doc_id: r for r in dt.document_text_features(df).collect()}
    assert rows[1].kind == "gz:md" and rows[1].ok
    assert rows[1].text == md.markdown_expected_text(units)
    assert rows[2].kind == "parquet" and rows[2].ok
    assert rows[2].text == T.parquet_expected_text(units)
    assert rows[3].kind == "gz" and not rows[3].ok
    assert "truncated stream" in rows[3].err


def test_media_blobs_quarantine_typed_not_admitted_as_text():
    """Round 13: binary media/archive blobs (PNG, tar, …) must NOT
    fall through to kind='text' — decoding a PNG as utf-8 silently
    poisons the corpus with mojibake. They quarantine typed,
    pointing at the media/archive pipelines; prose that merely
    STARTS with a magic word (no NUL in the head) stays lossless
    text."""
    import io
    import tarfile

    import pytest as _pytest

    from datasplash_spark.functions import multimodal as mm

    png = mm.encode_png([[0, 128], [255, 64]])
    assert dt.sniff_document_kind(png) == "png"
    with _pytest.raises(ValueError, match="media/archive blob"):
        dt.extract_document_text(png)
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w") as tf:
        info = tarfile.TarInfo("x.txt")
        info.size = 2
        tf.addfile(info, io.BytesIO(b"hi"))
    assert dt.sniff_document_kind(buf.getvalue()) == "tar"
    assert dt.sniff_document_kind(
        b"GIF89a is an image format spec"
    ) == "text"
    assert dt.sniff_document_kind(
        b"OggS pages begin with a magic"
    ) == "text"
    assert dt.sniff_document_kind(
        b"ID3 tags store audio metadata"
    ) == "text"


def test_notebook_writer_reader_parity_and_routing(spark):
    """encode_ipynb / ipynb_to_text parity (markdown cells extracted,
    code cells verbatim, outputs ignored, raw tail kept; source as
    list-of-lines AND as plain string), typed failures for
    non-notebook JSON, conservative sniffing vs JSONL/code, and the
    router + Spark kernel end to end."""
    import json

    import pytest as _pytest

    from datasplash_spark.functions import notebook as NB

    for units in (["alpha beta gamma"], ["a b", "c d e"], [""],
                  ["", "x"]):
        raw = NB.encode_ipynb(units, 7).decode()
        assert NB.ipynb_to_text(raw) == NB.ipynb_expected_text(units, 7)
    assert "IGNORED" not in NB.ipynb_to_text(
        NB.encode_ipynb(["x"]).decode()
    )
    nb = {"cells": [{"cell_type": "code", "source": "y = 1\n"}],
          "nbformat": 4}
    assert NB.ipynb_to_text(json.dumps(nb)) == "y = 1"
    with _pytest.raises(ValueError, match="no cells"):
        NB.ipynb_to_text("[1, 2]")
    with _pytest.raises(ValueError, match="unparseable"):
        NB.ipynb_to_text("{broken")
    assert not NB.sniff_ipynb('{"rid": 0, "words": "a"}')
    assert not NB.sniff_ipynb("import os\n")
    raw = NB.encode_ipynb(["alpha beta"], 3)
    assert dt.sniff_document_kind(raw) == "ipynb"
    df = spark.createDataFrame(
        [(3, bytearray(raw))], "doc_id bigint, media binary"
    )
    (row,) = dt.document_text_features(df).collect()
    assert row.kind == "ipynb" and row.ok
    assert row.text == NB.ipynb_expected_text(["alpha beta"], 3)


def test_php_sql_detection_and_frontmatter():
    """Round-13 additions: PHP routes as code BEFORE the html sniff
    (embedded markup must not be stripped), uppercase SQL statement
    heads detect with '--' comments classified, and a leading YAML
    frontmatter block drops from markdown while a prose paragraph
    after a thematic break survives."""
    from datasplash_spark.functions import code as C
    from datasplash_spark.functions.markdown import markdown_to_text as f

    php = b"<?php\necho '<html><body>x</body></html>';\n?>"
    assert dt.sniff_document_kind(php) == "code"
    assert dt.extract_document_text(php) == ("code", php.decode())
    assert dt.sniff_document_kind(
        b"<html><body>hi</body></html>"
    ) == "html"
    d = C.detect_code_lang
    assert d("#!/usr/bin/php\n") == "php"
    assert d(
        "SELECT id, name FROM users;\nCREATE TABLE t (id INT);\n"
    ) == "sql"
    assert d("Select the best option from the menu") is None
    st = C.code_line_stats("-- note\nSELECT 1 FROM t;", "sql")
    assert st["comment_lines"] == 1 and st["code_lines"] == 1
    assert f("---\ntitle: Foo\ntags: a, b\n---\n# H\n\nbody") == (
        "H\nbody"
    )
    assert f("---\nsome prose here\n---\nmore") == (
        "some prose here\nmore"
    )
    assert f("---\nkey: v\nstill going") == "key: v\nstill going"


def test_ini_detection_and_parquet_size_guard():
    """Round-13 tail: two bare [section] headers detect config files
    (wikitext links and markdown link definitions fail the full-line
    shape), and a parquet blob past 64 MiB raises typed instead of
    materializing (dataset shards belong to spark.read.parquet)."""
    import pytest as _pytest

    from datasplash_spark.functions import code as C
    from datasplash_spark.functions import tabular as T

    assert C.detect_code_lang(
        "[server]\nhost = a\n[client]\nport = 1\n"
    ) == "ini"
    assert C.detect_code_lang("[only one]\nk = v\n") is None
    assert C.detect_code_lang(
        "see [[link|x]] and [[other]]\n== H ==\n"
    ) is None
    assert C.detect_code_lang(
        "[ref]: https://example.com\n[r2]: https://x.org\n"
    ) is None
    assert dt.sniff_document_kind(
        b"[server]\nhost = a\n[client]\nport = 1\n"
    ) == "code"
    with _pytest.raises(ValueError, match="64 MiB"):
        T.parquet_to_text(b"PAR1" + b"\x00" * (1 << 26) + b"PAR1")


def test_toml_yaml_detection_is_conservative():
    """Round-13 continuation: section-less TOML (full-line ``key =
    TYPED-value`` — quoted/bool/array, never bare numbers) and YAML
    (ONLY indented ``- key: value`` sequence items) tag config
    files for route-then-protect, while math prose, colon-headed
    prose, frontmattered markdown, and column-0 markdown definition
    lists all keep their current routes."""
    from datasplash_spark.functions import code as C

    d = C.detect_code_lang
    assert d('name = "x"\nversion = "1.0"\n') == "toml"
    assert d('flags = [\"a\", \"b\"]\nactive = true\n') == "toml"
    assert d("x = 5\ny = 7\nthen x + y = 12\n") is None  # math prose
    gha = (
        "jobs:\n  build:\n    steps:\n"
        "      - name: Checkout\n"
        "      - uses: actions/checkout@v4\n"
    )
    assert d(gha) == "yaml"
    assert d("Usage:\nrun it.\nNote:\nfast.\n") is None
    assert d("---\nkind: Pod\n---\nkind: Service\n") is None
    # routing: frontmattered markdown and column-0 definition lists
    # stay md; the workflow file routes code
    assert dt.sniff_document_kind(
        b"---\ntitle: post\n---\n\n# Heading\n\nbody [x](y)\n"
    ) == "md"
    assert dt.sniff_document_kind(
        b"# T\n\n- alpha: the first letter\n- beta: the second\n"
    ) == "md"
    assert dt.sniff_document_kind(gha.encode()) == "code"
    # lossless contract holds for the new tags
    assert dt.extract_document_text(gha.encode()) == ("code", gha)


import pytest as _pt


@_pt.mark.slow  # exhaustive twin of
# test_modality_gates_survive_divergent_edge_chars (default set runs
# the four highest-leverage gates; this runs all ten)
def test_modality_gates_divergent_edge_chars_all(spark, tmp_path):
    import os
    import sys

    import pandas as pd

    scripts = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "scripts",
    )
    if scripts not in sys.path:
        sys.path.insert(0, scripts)
    from check_oracle import _compare_one, oracle_views

    from datasplash_spark import queries as Q

    texts = [
        "\x00",
        "\xa0leading nbsp words",
        "\u2028line sep first",
        "word\u3000ideographic space tail",
        "mix \x00 nul and\xa0nbsp\u2029ps end",
        "\x85nel\u1680ogham\u2009thin",
        "plain ascii control case",
        "",
    ]
    pd.DataFrame(
        {
            "doc_id": range(1, len(texts) + 1),
            "text": texts,
            "lang": ["en"] * len(texts),
            "source": ["fuzz"] * len(texts),
            "n_chars": [len(t) for t in texts],
        }
    ).to_parquet(str(tmp_path / "documents.parquet"))
    con = oracle_views(str(tmp_path))
    for name in _fuzz_gate_names(all_gates=True):
        fn, sql = Q._ALL[name]
        failed, line = _compare_one(
            spark, con, str(tmp_path), name, fn, sql
        )
        assert not failed, line


def test_email_writer_reader_parity_and_routing(spark):
    """encode_eml / eml_to_text parity across both part modes
    (quoted-printable plain part wins; html-only falls back through
    the shared extractor; headers vanish, Subject survives), mbox
    envelope accepted, conservative sniffing vs prose, and the
    router precedence over the html-anywhere check."""
    from datasplash_spark.functions import eml as EM

    for html_only in (False, True):
        for units in (["alpha beta gamma"], ["a b", "c d e"], [""],
                      ["", "x"]):
            raw = EM.encode_eml(units, 7, html_only=html_only)
            assert EM.eml_to_text(raw) == EM.eml_expected_text(
                units, 7
            ), (html_only, units)
    long_units = [" ".join("word%d" % i for i in range(40))]
    raw = EM.encode_eml(long_units, 1)
    assert b"=\n" in raw  # quoted-printable soft break exercised
    assert EM.eml_to_text(raw) == EM.eml_expected_text(long_units, 1)
    assert not EM.sniff_eml(
        "From: my perspective, this is prose\nmore prose"
    )
    assert EM.sniff_eml(
        "From x@y Mon Jan  1 00:00:00 2024\nFrom: a@b\n"
        "Subject: s\n\nbody"
    )
    raw = EM.encode_eml(["alpha beta"], 3)
    assert dt.sniff_document_kind(raw) == "eml"  # beats '<html' in body
    assert dt.sniff_document_kind(
        b"<html><body>hi</body></html>"
    ) == "html"
    df = spark.createDataFrame(
        [(3, bytearray(raw)),
         (4, bytearray(EM.encode_eml(["gamma"], 4, html_only=True)))],
        "doc_id bigint, media binary",
    )
    rows = {r.doc_id: r for r in dt.document_text_features(df).collect()}
    assert rows[3].kind == "eml" and rows[3].ok
    assert rows[3].text == EM.eml_expected_text(["alpha beta"], 3)
    assert rows[4].text == EM.eml_expected_text(["gamma"], 4)
