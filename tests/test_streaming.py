"""Streaming: watch-new-files source, stateful transforms, trigger
mapping, session windows under watermark — smoke-level (rate/file
sources; no external brokers in this container)."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from datasplash_spark.plans import pt_cond, pt_thread, ptransform, view
from datasplash_spark.sources import read_text_file, write_text_file, generate_input
from datasplash_spark.streaming import (
    batch_stateful,
    beam_trigger_to_spark,
    stateful_map_groups,
    write_stream,
)

from tests.helpers import contains_only, last_sql_execution, sql_executions_since


def test_watch_new_files_is_streaming(spark, tmp_path):
    """:watch-new-files (core.clj:1207-1217) → streaming DataFrame."""
    d = str(tmp_path / "watched")
    write_text_file(generate_input(spark, [("x",)], "value string"), d)
    stream = read_text_file(spark, d, watch_new_files=True)
    assert stream.isStreaming


def test_streaming_file_source_end_to_end(spark, tmp_path):
    """Drain a file stream with availableNow ('once' trigger) into a
    memory sink and check the rows arrive."""
    src = str(tmp_path / "src")
    write_text_file(
        generate_input(spark, [("a",), ("b",)], "value string"), src
    )
    stream = read_text_file(spark, src, watch_new_files=True)
    q = write_stream(
        stream,
        "memory",
        checkpoint_dir=str(tmp_path / "ckpt"),
        trigger="once",
        query_name="drain_test",
    )
    q.awaitTermination(60)
    got = spark.sql("SELECT * FROM drain_test")
    contains_only(got, [("a",), ("b",)])


def test_stateful_map_groups_streaming(spark, tmp_path):
    """Per-key ValueState running counter — the reference's stateful
    test shape (api_test.clj:342-357) under Structured Streaming."""
    src = str(tmp_path / "events")
    write_text_file(
        generate_input(
            spark, [("a",), ("a",), ("b",), ("a",), ("b",)], "value string"
        ),
        src,
    )
    stream = read_text_file(spark, src, watch_new_files=True)

    def counter(key, rows, state):
        n = (state or 0) + len(rows)
        return [{"key": key[0], "n": n}], n

    counted = stateful_map_groups(
        stream,
        ["value"],
        counter,
        state_schema="n int",
        output_schema="key string, n int",
    )
    q = write_stream(
        counted,
        "memory",
        checkpoint_dir=str(tmp_path / "ckpt2"),
        trigger="once",
        output_mode="update",
        query_name="counts_test",
    )
    q.awaitTermination(120)
    got = {r.key: r.n for r in spark.sql("SELECT * FROM counts_test").collect()}
    assert got == {"a": 3, "b": 2}


def test_batch_stateful_ordered(spark):
    """Batch stateful with explicit ordering (SURVEY §7.3c): running
    per-key sum in event order."""
    df = generate_input(
        spark,
        [("a", 1, 10.0), ("a", 2, 5.0), ("b", 1, 7.0), ("a", 3, 1.0)],
        "k string, seq int, x double",
    )

    def running(key, rows):
        total = 0.0
        for r in rows:
            total += r["x"]
            yield {"k": r["k"], "seq": r["seq"], "running": total}

    got = batch_stateful(df, ["k"], "seq", running, "k string, seq int, running double")
    contains_only(
        got,
        [
            ("a", 1, 10.0),
            ("a", 2, 15.0),
            ("a", 3, 16.0),
            ("b", 1, 7.0),
        ],
    )


def test_trigger_mapping():
    assert beam_trigger_to_spark(None) == {}
    assert beam_trigger_to_spark("once") == {"availableNow": True}
    assert beam_trigger_to_spark({"processing-time": "10 seconds"}) == {
        "processingTime": "10 seconds"
    }
    assert beam_trigger_to_spark("continuous:1 second") == {"continuous": "1 second"}
    with pytest.raises(ValueError):
        beam_trigger_to_spark("bogus")


# ---------------------------------------------------------------- sugar

def test_ptransform_and_threading(spark):
    """ptransform / pt->> / pt-cond->> (api_test.clj:468-484)."""
    df = generate_input(spark, [(i,) for i in range(10)], "x int")

    @ptransform("evens")
    def evens(d):
        return d.filter(F.col("x") % 2 == 0)

    def doubled(d):
        return d.select((F.col("x") * 2).alias("x"))

    got = pt_thread(df, evens, doubled)
    contains_only(got, [(0,), (4,), (8,), (12,), (16,)])
    same = pt_cond(df, (False, evens), (True, doubled))
    assert same.count() == 10


def test_view_types(spark):
    df = generate_input(spark, [("a", 1), ("b", 2), ("a", 3)], "k string, v int")
    assert view(df.limit(1).select("v"), "singleton").value in (1, 2, 3)
    assert view(df, "map").value["b"] == 2
    mm = view(df, "multi-map").value
    assert sorted(mm["a"]) == [1, 3]
    assert len(view(df, "list").value) == 3
    with pytest.raises(ValueError):
        view(df, "singleton")


def test_streaming_windowed_agg_with_watermark(spark, tmp_path):
    """Event-time tumbling window + watermark over a file stream —
    the reference's windowed-aggregation shape (api_test.clj:949-971)
    under Structured Streaming, drained with availableNow."""
    from datasplash_spark.operators import fixed_windows, with_allowed_lateness
    import json as _json

    src = tmp_path / "ev"
    src.mkdir()
    rows = [
        {"ts": "2024-01-01 00:05:00", "k": "a", "v": 1.0},
        {"ts": "2024-01-01 00:20:00", "k": "a", "v": 2.0},
        {"ts": "2024-01-01 01:10:00", "k": "a", "v": 4.0},
        {"ts": "2024-01-01 00:40:00", "k": "b", "v": 8.0},
    ]
    (src / "data.json").write_text("\n".join(_json.dumps(r) for r in rows))
    stream = (
        spark.readStream.schema("ts string, k string, v double")
        .json(str(src))
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    stream = with_allowed_lateness(stream, "ts", "10 minutes")
    agg = stream.groupBy(
        fixed_windows("ts", "1 hour").alias("w"), F.col("k")
    ).agg(F.sum("v").alias("s"))
    out = agg.select(
        F.unix_timestamp("w.start").alias("ws"), "k", "s"
    )
    q = write_stream(
        out,
        "memory",
        checkpoint_dir=str(tmp_path / "ck"),
        trigger="once",
        output_mode="complete",
        query_name="winagg",
    )
    q.awaitTermination(120)
    got = {(r.ws, r.k): r.s for r in spark.sql("SELECT * FROM winagg").collect()}
    h0 = 1704067200
    assert got == {(h0, "a"): 3.0, (h0 + 3600, "a"): 4.0, (h0, "b"): 8.0}


def test_stateful_event_time_timeout(spark, tmp_path):
    """EventTimeTimeout end-to-end: per-key state armed with an
    event-time timer expires when the watermark passes it — the
    session-expiry shape. Files are drained one per micro-batch
    (availableNow honors maxFilesPerTrigger) so the watermark
    actually advances between batches."""
    src = tmp_path / "sess_src"
    src.mkdir()
    (src / "f1.txt").write_text("a,2024-01-01 00:00:00\na,2024-01-01 00:00:01\n")
    time.sleep(0.05)
    (src / "f2.txt").write_text("b,2024-01-01 00:01:40\n")
    time.sleep(0.05)
    (src / "f3.txt").write_text("c,2024-01-01 00:01:41\n")

    stream = (
        spark.readStream.option("maxFilesPerTrigger", 1)
        .text(str(src))
        .select(
            F.split("value", ",").getItem(0).alias("k"),
            F.to_timestamp(F.split("value", ",").getItem(1)).alias("ts"),
        )
        .withWatermark("ts", "5 seconds")
    )

    def on_data(key, rows, state):
        return [], (state or 0) + len(rows)  # emit only on expiry

    def on_expire(key, state):
        return [{"k": key[0], "n": state, "expired": True}], None

    def arm(rows, new_state):
        return max(int(r["ts"].timestamp() * 1000) for r in rows) + 10_000

    out = stateful_map_groups(
        stream,
        ["k"],
        on_data,
        state_schema="n int",
        output_schema="k string, n int, expired boolean",
        output_mode="update",
        timeout="EventTimeTimeout",
        timeout_timestamp=arm,
        on_timeout=on_expire,
    )
    q = write_stream(
        out,
        "memory",
        checkpoint_dir=str(tmp_path / "ckpt_sess"),
        trigger="once",
        output_mode="update",
        query_name="sess_test",
    )
    q.awaitTermination(180)
    rows = spark.sql("SELECT * FROM sess_test").collect()
    # watermark after f2 (100 s − 5 s = 95 s) passes a's 11 s timer →
    # exactly one expiry summary for a; b and c timers stay armed
    assert {(r.k, r.n, r.expired) for r in rows} == {("a", 2, True)}


def test_kafka_decode_wire_schema(spark):
    """read_kafka's record mapping executed broker-less: a DataFrame
    with the exact Kafka source wire schema decodes to the reference's
    KafkaRecord map shape (kafka.clj:10-26) — payload/key/metadata/
    headers-as-map."""
    import datetime as dt

    from datasplash_spark.sources import decode_kafka

    wire_schema = (
        "key binary, value binary, topic string, partition int, "
        "offset long, timestamp timestamp, timestampType int, "
        "headers array<struct<key:string,value:binary>>"
    )
    rows = [
        (
            b"k1",
            b"hello",
            "events",
            0,
            42,
            dt.datetime(2024, 5, 1, 12, 0, 0),
            0,
            [("trace", b"abc")],
        ),
        (None, b"\x00\x01", "events", 1, 7, dt.datetime(2024, 5, 1, 12, 0, 1), 0, None),
    ]
    wire = spark.createDataFrame(rows, wire_schema)

    decoded = decode_kafka(wire)  # StringDeserializer analog
    got = {r.offset: r for r in decoded.collect()}
    assert got[42].key == "k1" and got[42].payload == "hello"
    assert got[42].topic == "events" and got[42].partition == 0
    assert got[42].headers == {"trace": bytearray(b"abc")}
    assert got[7].key is None and got[7].headers is None

    raw = decode_kafka(wire, key_codec="raw", value_codec="raw")
    r42 = {r.offset: r for r in raw.collect()}[42]
    assert bytes(r42.payload) == b"hello"

    no_meta = decode_kafka(wire, with_metadata=False)
    assert no_meta.columns == ["key", "payload"]


def test_stream_stream_join_with_watermarks(spark, tmp_path):
    """Stream-stream inner join with watermarks + a time-range
    condition (impressions ⋈ clicks within 30 min) — Structured
    Streaming's state-bounded join, the streaming analog of the
    reference's windowed CoGroupByKey joins. Both sides carry
    watermarks so the join state can expire."""
    import json as _json

    imp_dir = tmp_path / "imp"
    clk_dir = tmp_path / "clk"
    imp_dir.mkdir()
    clk_dir.mkdir()
    (imp_dir / "d.json").write_text(
        "\n".join(
            _json.dumps(r)
            for r in [
                {"its": "2024-01-01 00:00:00", "ad": "a1"},
                {"its": "2024-01-01 01:00:00", "ad": "a2"},
            ]
        )
    )
    (clk_dir / "d.json").write_text(
        "\n".join(
            _json.dumps(r)
            for r in [
                {"cts": "2024-01-01 00:10:00", "ad": "a1"},  # within 30 min
                {"cts": "2024-01-01 02:10:00", "ad": "a2"},  # too late
            ]
        )
    )
    imps = (
        spark.readStream.schema("its string, ad string")
        .json(str(imp_dir))
        .withColumn("its", F.col("its").cast("timestamp"))
        .withWatermark("its", "10 minutes")
    )
    clks = (
        spark.readStream.schema("cts string, ad string")
        .json(str(clk_dir))
        .withColumn("cts", F.col("cts").cast("timestamp"))
        .withWatermark("cts", "10 minutes")
    )
    joined = imps.join(
        clks,
        (imps.ad == clks.ad)
        & (clks.cts >= imps.its)
        & (clks.cts <= imps.its + F.expr("INTERVAL 30 MINUTES")),
    ).select(imps.ad.alias("ad"), F.unix_timestamp("its").alias("its_s"))
    q = write_stream(
        joined,
        "memory",
        checkpoint_dir=str(tmp_path / "ck"),
        trigger="once",
        output_mode="append",
        query_name="ssjoin",
    )
    q.awaitTermination(120)
    got = [(r.ad, r.its_s) for r in spark.sql("SELECT * FROM ssjoin").collect()]
    assert got == [("a1", 1704067200)]


def test_dedup_stream_within_watermark(spark, tmp_path):
    """Streaming dedup: repeated digests within the watermark horizon
    are dropped; state is watermark-bounded."""
    import json as _json

    src = tmp_path / "docs"
    src.mkdir()
    rows = [
        {"ts": "2024-01-01 00:00:00", "digest": "d1", "n": 1},
        {"ts": "2024-01-01 00:01:00", "digest": "d1", "n": 2},  # dup
        {"ts": "2024-01-01 00:02:00", "digest": "d2", "n": 3},
        {"ts": "2024-01-01 00:03:00", "digest": "d2", "n": 4},  # dup
        {"ts": "2024-01-01 00:04:00", "digest": "d3", "n": 5},
    ]
    (src / "d.json").write_text("\n".join(_json.dumps(r) for r in rows))
    stream = (
        spark.readStream.schema("ts string, digest string, n bigint")
        .json(str(src))
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    from datasplash_spark.streaming import dedup_stream

    deduped = dedup_stream(
        stream, ["digest"], event_time="ts", watermark="10 minutes"
    ).select("digest")
    q = write_stream(
        deduped,
        "memory",
        checkpoint_dir=str(tmp_path / "ck"),
        trigger="once",
        output_mode="append",
        query_name="sdedup",
    )
    q.awaitTermination(120)
    got = sorted(r.digest for r in spark.sql("SELECT * FROM sdedup").collect())
    assert got == ["d1", "d2", "d3"]


def test_streaming_session_window_agg(spark, tmp_path):
    """session_window under Structured Streaming: gap-merged sessions
    close as the watermark passes; drained with availableNow."""
    import json as _json

    src = tmp_path / "sess"
    src.mkdir()
    rows = [
        {"ts": "2024-01-01 00:00:00", "k": "a", "v": 1.0},
        {"ts": "2024-01-01 00:03:00", "k": "a", "v": 2.0},   # same session (gap 5m)
        {"ts": "2024-01-01 01:00:00", "k": "a", "v": 4.0},   # new session
        {"ts": "2024-01-01 00:00:30", "k": "b", "v": 8.0},
    ]
    (src / "d.json").write_text("\n".join(_json.dumps(r) for r in rows))
    from datasplash_spark.operators import session_windows, with_allowed_lateness

    stream = (
        spark.readStream.schema("ts string, k string, v double")
        .json(str(src))
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    stream = with_allowed_lateness(stream, "ts", "10 minutes")
    agg = stream.groupBy(
        session_windows("ts", "5 minutes").alias("w"), F.col("k")
    ).agg(F.sum("v").alias("s"))
    q = write_stream(
        agg.select("k", "s"),
        "memory",
        checkpoint_dir=str(tmp_path / "ck"),
        trigger="once",
        output_mode="complete",
        query_name="sesswin",
    )
    q.awaitTermination(120)
    got = sorted((r.k, r.s) for r in spark.sql("SELECT * FROM sesswin").collect())
    assert got == [("a", 3.0), ("a", 4.0), ("b", 8.0)]


def test_rolling_agg_bounded_frame(spark):
    """RANGE frame includes exactly [t - range_back, t] per key."""
    from datasplash_spark.sources import generate_input
    from datasplash_spark.streaming import rolling_agg

    rows = [("a", 0, 1), ("a", 50, 2), ("a", 100, 4), ("a", 161, 8), ("b", 0, 16)]
    df = generate_input(spark, rows, "k string, t bigint, v bigint")
    got = {
        (r.k, r.t): r.s
        for r in rolling_agg(df, ["k"], "t", 100, s=F.sum("v")).collect()
    }
    assert got == {
        ("a", 0): 1,
        ("a", 50): 3,
        ("a", 100): 7,    # includes t=0 (inclusive lower bound)
        ("a", 161): 12,   # frame [61,161]: only t=100 and t=161 rows
        ("b", 0): 16,
    }

    import pytest as _pytest

    with _pytest.raises(ValueError):
        rolling_agg(df, ["k"], "t", 0.5, s=F.sum("v"))


def test_foreach_batch_idempotent_parquet_sink(spark, tmp_path):
    """Drain a file stream through foreach_batch_sink with the
    batch-id-partitioned overwrite writer; re-running the SAME batch
    fn on the same batch id must not duplicate rows (idempotence —
    the replay-after-recovery scenario)."""
    from datasplash_spark.streaming import (
        foreach_batch_sink,
        idempotent_parquet_batch_writer,
    )

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    write_text_file(
        generate_input(spark, [("a",), ("b",), ("c",)], "value string"), src
    )
    stream = read_text_file(spark, src, watch_new_files=True)
    writer = idempotent_parquet_batch_writer(out)
    q = foreach_batch_sink(stream, writer, ckpt, trigger="once")
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    assert sorted(r.value for r in got.collect()) == ["a", "b", "c"]
    # simulate a replay of batch 0: same data, same batch id
    writer(generate_input(spark, [("a",), ("b",), ("c",)], "value string"), 0)
    got2 = spark.read.parquet(out)
    assert sorted(r.value for r in got2.collect()) == ["a", "b", "c"]


def test_pubsub_stream_end_to_end(spark, tmp_path):
    """Pub/Sub flow e2e, transport-mocked (no first-party Spark
    source exists for plain Pub/Sub — the documented contract): a
    parquet file STREAM with the Pub/Sub message shape
    (payload binary + attributes map) stands in for the unbounded
    source, then the real pipeline runs unchanged: ``decode_pubsub``
    with an attribute-timestamp label (pubsub.clj:55,82 — the
    ``:timestamp-label`` flow), watermark, tumbling event-time
    window aggregation, memory sink.

    Attribute timestamps exercise BOTH encodings the reference
    accepts: epoch millis and ISO-8601."""
    from datasplash_spark.operators import fixed_windows, with_allowed_lateness
    from datasplash_spark.sources import decode_pubsub

    # transport frames: one early message, one in the next hour,
    # one ISO-8601-stamped message back in hour 0
    h0_ms = 1704067200000  # 2024-01-01T00:00:00Z
    msgs = [
        (bytearray(b"m1"), {"ts": str(h0_ms + 60_000), "src": "a"}),
        (bytearray(b"m2"), {"ts": str(h0_ms + 3_660_000), "src": "a"}),
        (bytearray(b"m3"), {"ts": "2024-01-01T00:30:00Z", "src": "b"}),
    ]
    src = str(tmp_path / "psrc")
    spark.createDataFrame(
        msgs, "payload binary, attributes map<string,string>"
    ).write.parquet(src)

    stream = spark.readStream.schema(
        "payload binary, attributes map<string,string>"
    ).parquet(src)
    assert stream.isStreaming

    decoded = decode_pubsub(stream, type="string", timestamp_label="ts")
    decoded = with_allowed_lateness(decoded, "event_time", "15 minutes")
    agg = decoded.groupBy(
        fixed_windows("event_time", "1 hour").alias("w")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("value").alias("first_payload"),
    )
    out = agg.select(F.unix_timestamp("w.start").alias("ws"), "n", "first_payload")
    q = write_stream(
        out,
        "memory",
        checkpoint_dir=str(tmp_path / "psck"),
        trigger="once",
        output_mode="complete",
        query_name="psagg",
    )
    q.awaitTermination(120)
    got = {r.ws: (r.n, r.first_payload) for r in spark.sql("SELECT * FROM psagg").collect()}
    h0 = h0_ms // 1000
    assert got == {h0: (2, "m1"), h0 + 3600: (1, "m2")}


def test_near_dedup_ingest_micro_batches(spark, tmp_path):
    """Streaming near-dup admission e2e: two micro-batches drain
    through near_dedup_admitter into a parquet store. Batch 0 holds
    an intra-batch near-dup pair (one survivor admitted); batch 1
    holds a near-dup of a STORED doc (dropped), an exact dup of a
    stored doc (dropped), and a fresh doc (admitted). Replaying
    batch 1 must leave the store byte-identical (idempotence)."""
    from datasplash_spark.streaming import near_dedup_admitter

    store = str(tmp_path / "store")
    base = "the quick brown fox jumps over the lazy dog and then naps all afternoon"
    near = base.replace("naps", "rests")            # near-dup of base
    fresh = "completely different content about spark catalyst plans and shuffles"
    other = "unrelated second document text with its own distinct vocabulary here"

    admit = near_dedup_admitter(store, num_hashes=16, bands=8, k=2, seed=42)

    b0 = generate_input(
        spark,
        [(1, base), (2, near), (3, other)],
        "doc_id bigint, text string",
    )
    admit(b0, 0)
    got0 = spark.read.parquet(store)
    ids0 = sorted(r.doc_id for r in got0.collect())
    assert 3 in ids0                       # 'other' always admitted
    assert len(ids0) == 2                  # base/near collapsed to one
    survivor = min(i for i in ids0 if i != 3)

    b1 = generate_input(
        spark,
        [(10, near), (11, base), (12, fresh)],
        "doc_id bigint, text string",
    )
    admit(b1, 1)
    ids1 = sorted(r.doc_id for r in spark.read.parquet(store).collect())
    # 10 is a near-dup of the stored survivor, 11 an exact dup of a
    # stored text (or near-dup, depending on which survived batch 0) —
    # both dropped; 12 admitted
    assert ids1 == sorted([survivor, 3, 12])

    # replay batch 1 (recovery): store must not change
    admit(b1, 1)
    ids_replay = sorted(r.doc_id for r in spark.read.parquet(store).collect())
    assert ids_replay == ids1


def test_near_dedup_ingest_streaming_query(spark, tmp_path):
    """The writeStream wrapper drains a file stream through the
    admitter (trigger=once) and produces a readable store."""
    from datasplash_spark.streaming import near_dedup_ingest

    src = str(tmp_path / "nsrc")
    store = str(tmp_path / "nstore")
    ckpt = str(tmp_path / "nckpt")
    docs = generate_input(
        spark,
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "alpha beta gamma delta epsilon zeta eta iota"),
            (3, "totally different words live in this document body"),
        ],
        "doc_id bigint, text string",
    )
    docs.write.parquet(src)
    stream = spark.readStream.schema("doc_id bigint, text string").parquet(src)
    q = near_dedup_ingest(
        stream, store, ckpt, num_hashes=16, bands=8, k=2, seed=42,
        trigger="once",
    )
    q.awaitTermination(120)
    ids = sorted(r.doc_id for r in spark.read.parquet(store).collect())
    assert 3 in ids and len(ids) == 2      # 1/2 near-dup collapsed


def test_semantic_ingest_micro_batches(spark, tmp_path):
    """Embedding-space streaming admission e2e: batch 0 holds an
    intra-batch semantic near-dup pair (one survivor admitted);
    batch 1 holds a near-dup of a STORED vector (dropped), a re-sent
    stored id (dropped), and a fresh orthogonal vector (admitted).
    Replaying batch 1 leaves the store identical."""
    from datasplash_spark.streaming import semantic_admitter

    store = str(tmp_path / "estore")
    # fixed quantizer: the three axes
    cents = [
        [1.0, 0.0, 0.0, 0.0],
        [0.0, 1.0, 0.0, 0.0],
        [0.0, 0.0, 1.0, 0.0],
    ]
    admit = semantic_admitter(store, cents, eps=0.9)

    a = [1.0, 0.05, 0.0, 0.0]
    a_near = [1.0, 0.08, 0.0, 0.0]       # cos(a, a_near) > 0.9
    b = [0.0, 1.0, 0.1, 0.0]
    b0 = generate_input(
        spark,
        [(1, a), (2, a_near), (3, b)],
        "vec_id bigint, embedding array<double>",
    )
    admit(b0, 0)
    ids0 = sorted(r.vec_id for r in spark.read.parquet(store).collect())
    assert 3 in ids0 and len(ids0) == 2   # a/a_near collapsed
    survivor = min(i for i in ids0 if i != 3)

    fresh = [0.0, 0.0, 0.0, 1.0]          # orthogonal to everything
    b1 = generate_input(
        spark,
        [(10, a), (3, b), (12, fresh)],
        "vec_id bigint, embedding array<double>",
    )
    admit(b1, 1)
    ids1 = sorted(r.vec_id for r in spark.read.parquet(store).collect())
    assert ids1 == sorted([survivor, 3, 12])

    # replay batch 1 (recovery): store must not change
    admit(b1, 1)
    assert sorted(
        r.vec_id for r in spark.read.parquet(store).collect()
    ) == ids1
    # store carries the write-time probe columns
    cols = set(spark.read.parquet(store).columns)
    assert {"vec_id", "embedding", "norm", "cell", "_batch_id"} <= cols


def test_semantic_admitter_empty_batch(spark, tmp_path):
    """Streams deliver empty micro-batches: the admitter must write
    an empty (or no-row) partition and leave existing store rows
    untouched rather than erroring."""
    from datasplash_spark.streaming import semantic_admitter

    store = str(tmp_path / "estore2")
    cents = [[1.0, 0.0], [0.0, 1.0]]
    admit = semantic_admitter(store, cents, eps=0.9)
    b0 = generate_input(
        spark, [(1, [1.0, 0.1])], "vec_id bigint, embedding array<double>"
    )
    admit(b0, 0)
    empty = spark.createDataFrame([], "vec_id bigint, embedding array<double>")
    admit(empty, 1)  # must not raise
    assert sorted(
        r.vec_id for r in spark.read.parquet(store).collect()
    ) == [1]


def test_semantic_admitter_out_of_order_replay(spark, tmp_path):
    """VERDICT r4 item 7: Spark only guarantees at-least-once PER
    batch id — after recovery an EARLIER batch can replay after a
    later one already landed. Replaying batch 0 once batch 1 is in
    the store must leave the store byte-identical: the store read
    excludes only batch 0's own partition, so it sees batch 1's rows,
    and the admission must still converge to the same survivors
    (near-dup symmetry: batch 1 was admitted because it was far from
    batch 0's survivors, so batch 0's survivors are equally far from
    batch 1's rows)."""
    from datasplash_spark.streaming import semantic_admitter

    store = str(tmp_path / "estore4")
    cents = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0]]
    admit = semantic_admitter(store, cents, eps=0.9)
    b0 = generate_input(
        spark,
        [(1, [1.0, 0.02, 0.0]), (2, [1.0, 0.03, 0.0])],  # near-dups
        "vec_id bigint, embedding array<double>",
    )
    b1 = generate_input(
        spark,
        [(10, [0.0, 1.0, 0.05]), (11, [1.0, 0.01, 0.0])],  # 11 ~ stored
        "vec_id bigint, embedding array<double>",
    )
    admit(b0, 0)
    admit(b1, 1)
    before = sorted(
        (r.vec_id, r._batch_id)
        for r in spark.read.parquet(store).collect()
    )
    ids = [v for v, _ in before]
    assert 10 in ids and 11 not in ids and len(ids) == 2

    admit(b0, 0)  # out-of-order replay of the EARLIER batch
    after = sorted(
        (r.vec_id, r._batch_id)
        for r in spark.read.parquet(store).collect()
    )
    assert after == before


def test_store_has_data_probe(spark, tmp_path):
    """ADVICE r4: store existence is an explicit FileSystem probe —
    missing path and metadata-only directories (_SUCCESS from an
    admit-nothing batch, .crc files) read as 'no store yet'; any
    data file flips it."""
    from datasplash_spark.streaming.neardup import _store_has_data

    p = tmp_path / "probe_store"
    assert not _store_has_data(spark, str(p))
    p.mkdir()
    assert not _store_has_data(spark, str(p))
    (p / "_SUCCESS").write_text("")
    (p / ".part-0.crc").write_text("x")
    assert not _store_has_data(spark, str(p))
    sub = p / "_batch_id=0"            # partition dir: name has '='
    sub.mkdir()
    assert not _store_has_data(spark, str(p))  # still no data FILE
    (sub / "part-00000.parquet").write_text("stub")
    assert _store_has_data(spark, str(p))


def test_semantic_ingest_streaming_query(spark, tmp_path):
    """The semantic_ingest writeStream wrapper drains a file stream
    of vectors through the admitter (trigger=once): intra-batch
    near-dups collapse, the orthogonal vector is admitted."""
    from datasplash_spark.streaming import semantic_ingest

    src = str(tmp_path / "esrc")
    store = str(tmp_path / "estore3")
    ckpt = str(tmp_path / "eckpt")
    cents = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0]]
    vecs = generate_input(
        spark,
        [
            (1, [1.0, 0.02, 0.0]),
            (2, [1.0, 0.03, 0.0]),   # near-dup of 1
            (3, [0.0, 1.0, 0.05]),
        ],
        "vec_id bigint, embedding array<double>",
    )
    vecs.write.parquet(src)
    stream = spark.readStream.schema(
        "vec_id bigint, embedding array<double>"
    ).parquet(src)
    q = semantic_ingest(stream, store, ckpt, cents, eps=0.9, trigger="once")
    q.awaitTermination(120)
    ids = sorted(r.vec_id for r in spark.read.parquet(store).collect())
    assert 3 in ids and len(ids) == 2      # 1/2 collapsed to one


def test_quota_admitter_cross_batch_caps(spark, tmp_path):
    """Streaming per-key quota: batch 0 fills part of a key's quota,
    batch 1 admits only the REMAINDER (in md5 order), an unseen key
    gets a fresh quota, and an in-order replay of batch 1 leaves the
    store byte-identical. NULL keys are a quota key too."""
    from datasplash_spark.streaming import quota_admitter

    store = str(tmp_path / "qstore")
    admit = quota_admitter(store, key="src", max_rows_per_key=3, id_col="id")

    b0 = generate_input(
        spark,
        [(1, "a"), (2, "a"), (100, None)],
        "id bigint, src string",
    )
    admit(b0, 0)
    ids0 = sorted(r.id for r in spark.read.parquet(store).collect())
    assert ids0 == [1, 2, 100]              # under quota: all admitted

    b1 = generate_input(
        spark,
        [(3, "a"), (4, "a"), (5, "a"), (6, "b"), (101, None)],
        "id bigint, src string",
    )
    admit(b1, 1)
    rows = spark.read.parquet(store).collect()
    by_src: dict = {}
    for r in rows:
        by_src.setdefault(r.src, []).append(r.id)
    assert len(by_src["a"]) == 3            # 2 from b0 + exactly 1 more
    assert set(by_src["a"]) >= {1, 2}
    assert sorted(by_src["b"]) == [6]       # fresh key, fresh quota
    assert sorted(by_src[None]) == [100, 101]  # NULL key counted too

    # md5-order determinism: the one admitted 'a' of batch 1 is the
    # md5(seed||id)-smallest of {3,4,5}
    import hashlib

    expected = min(
        (hashlib.md5(f"42{i}".encode()).hexdigest(), i) for i in (3, 4, 5)
    )[1]
    assert set(by_src["a"]) == {1, 2, expected}

    before = sorted((r.id, r._batch_id) for r in rows)
    admit(b1, 1)                            # in-order replay
    after = sorted(
        (r.id, r._batch_id) for r in spark.read.parquet(store).collect()
    )
    assert after == before


def test_quota_ingest_streaming_query(spark, tmp_path):
    """The quota_ingest writeStream wrapper drains a file stream
    (trigger=once) applying the per-key cap."""
    from datasplash_spark.streaming import quota_ingest

    src = str(tmp_path / "qsrc")
    store = str(tmp_path / "qstore2")
    ckpt = str(tmp_path / "qckpt")
    generate_input(
        spark,
        [(i, "a" if i < 8 else "b") for i in range(10)],
        "id bigint, src string",
    ).write.parquet(src)
    stream = spark.readStream.schema("id bigint, src string").parquet(src)
    q = quota_ingest(
        stream, store, ckpt, key="src", max_rows_per_key=4, id_col="id",
        trigger="once",
    )
    q.awaitTermination(120)
    rows = spark.read.parquet(store).collect()
    counts: dict = {}
    for r in rows:
        counts[r.src] = counts.get(r.src, 0) + 1
    assert counts == {"a": 4, "b": 2}


def test_compact_store_preserves_contracts(spark, tmp_path):
    """compact_store: absorbs per-batch partitions into one, readers
    see identical rows, a replayed batch still admits nothing (its
    rows now live under the compact partition but the id ledger sees
    them), and re-running after a simulated partial failure (old
    partition left behind -> duplicate ids) self-heals."""
    import shutil

    from datasplash_spark.streaming import compact_store, quota_admitter

    store = str(tmp_path / "cstore")
    admit = quota_admitter(store, key="src", max_rows_per_key=10, id_col="id")
    for b, ids in enumerate(([1, 2], [3, 4], [5])):
        admit(
            generate_input(
                spark, [(i, "a") for i in ids], "id bigint, src string"
            ),
            b,
        )
    before = sorted(r.id for r in spark.read.parquet(store).collect())
    assert before == [1, 2, 3, 4, 5]

    # default keep_last=1 preserves the newest batch partition
    absorbed = compact_store(spark, store)
    assert absorbed == 2
    rows = spark.read.parquet(store).collect()
    assert sorted(r.id for r in rows) == before
    assert {r._batch_id for r in rows} == {-1, 2}

    # full absorption is safe too: every admitter carries an id ledger
    assert compact_store(spark, store, keep_last=0) == 1
    rows = spark.read.parquet(store).collect()
    assert sorted(r.id for r in rows) == before
    assert {r._batch_id for r in rows} == {-1}

    # replayed batch 1 after compaction: the id LEDGER still sees ids
    # 3,4 (now under the compact partition) and admits nothing
    admit(
        generate_input(spark, [(3, "a"), (4, "a")], "id bigint, src string"),
        1,
    )
    assert sorted(r.id for r in spark.read.parquet(store).collect()) == before

    # simulated crash window: copy the compact partition to a fake
    # old batch dir (duplicate ids on disk) -> recompaction heals
    shutil.copytree(
        str(tmp_path / "cstore" / "_batch_id=-1"),
        str(tmp_path / "cstore" / "_batch_id=9"),
    )
    assert len(spark.read.parquet(store).collect()) == 10  # dup state
    compact_store(spark, store, keep_last=0)
    healed = spark.read.parquet(store).collect()
    assert sorted(r.id for r in healed) == before

    # empty / missing store is a no-op
    assert compact_store(spark, str(tmp_path / "nope")) == 0
    assert compact_store(spark, store) == 0  # already compacted


@pytest.mark.slow  # 10 s; out-of-order replay is default-gated by
# test_semantic_admitter_out_of_order_replay and compaction parity by
# test_compact_postings_preserves_probe_parity — this is the crossed
# compaction-then-early-replay stress of both at once
def test_compaction_then_out_of_order_replay_crossed(spark, tmp_path):
    """VERDICT r5 item 8 — the CROSSED failure window: a store is
    compacted (batch partitions absorbed into _batch_id=-1), and
    only afterwards does the runtime replay an EARLIER batch whose
    own partition no longer exists. The replay's self-partition
    exclusion now excludes an EMPTY partition, so idempotence must
    come entirely from content: the near-dup probe (semantic) / id
    ledger (quota) must see the absorbed rows under the compact
    partition and admit nothing, leaving the store row-identical."""
    from datasplash_spark.streaming import (
        compact_store,
        quota_admitter,
        semantic_admitter,
    )

    # --- semantic admitter ---
    store = str(tmp_path / "xstore")
    cents = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0]]
    admit = semantic_admitter(store, cents, eps=0.9)
    b0 = generate_input(
        spark,
        [(1, [1.0, 0.02, 0.0]), (2, [1.0, 0.03, 0.0])],
        "vec_id bigint, embedding array<double>",
    )
    b1 = generate_input(
        spark,
        [(10, [0.0, 1.0, 0.05]), (11, [1.0, 0.01, 0.0])],
        "vec_id bigint, embedding array<double>",
    )
    admit(b0, 0)
    admit(b1, 1)
    assert compact_store(spark, store, keep_last=0) >= 1
    before = sorted(r.vec_id for r in spark.read.parquet(store).collect())
    admit(b0, 0)  # replay of a batch whose partition was absorbed
    rows = spark.read.parquet(store).collect()
    assert sorted(r.vec_id for r in rows) == before
    assert {r._batch_id for r in rows} == {-1}

    # --- quota admitter, partial compaction (keep_last=1) ---
    qstore = str(tmp_path / "xqstore")
    qadmit = quota_admitter(qstore, key="src", max_rows_per_key=10, id_col="id")
    for b, ids in enumerate(([1, 2], [3, 4], [5])):
        qadmit(
            generate_input(
                spark, [(i, "a") for i in ids], "id bigint, src string"
            ),
            b,
        )
    assert compact_store(spark, qstore) == 2  # batch 2 partition kept
    qadmit(  # replay ABSORBED batch 0 while batch 2's partition lives
        generate_input(spark, [(1, "a"), (2, "a")], "id bigint, src string"),
        0,
    )
    rows = spark.read.parquet(qstore).collect()
    assert sorted(r.id for r in rows) == [1, 2, 3, 4, 5]
    assert {r._batch_id for r in rows} == {-1, 2}


def test_chat_validation_streaming(spark, tmp_path):
    """conversation_stats is stateless, so the SFT QA gate runs
    unchanged on a stream: file source -> stats -> filter valid ->
    append sink; only structurally valid transcripts land."""
    from datasplash_spark.functions import chat as ch

    src = str(tmp_path / "csrc")
    out = str(tmp_path / "cout")
    ckpt = str(tmp_path / "cckpt")
    rows = [
        (1, '[{"role":"user","content":"q"},'
            '{"role":"assistant","content":"a"}]'),
        (2, '[{"role":"user","content":"q"}]'),      # no target
        (3, "broken json"),
    ]
    generate_input(
        spark, rows, "doc_id bigint, conv_json string"
    ).write.parquet(src)
    stream = spark.readStream.schema(
        "doc_id bigint, conv_json string"
    ).parquet(src)
    q = (
        ch.conversation_stats(stream)
        .where("valid")
        .select("doc_id", "n_turns")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(once=True)
        .start()
    )
    q.awaitTermination(120)
    got = [(r.doc_id, r.n_turns) for r in spark.read.parquet(out).collect()]
    assert got == [(1, 2)]


def test_url_normalized_dedup_streaming(spark, tmp_path):
    """normalize_url as a streaming dedup key: tracking-param and
    param-order variants of the same page collapse through Spark's
    stateful streaming dropDuplicates."""
    from datasplash_spark.functions import web as wb

    src = str(tmp_path / "usrc")
    out = str(tmp_path / "uout")
    ckpt = str(tmp_path / "uckpt")
    rows = [
        (1, "https://ex.com/p?a=1&z=9"),
        (2, "HTTPS://EX.com/p?z=9&utm_source=x&a=1#f"),  # same page
        (3, "https://ex.com/other"),
    ]
    generate_input(spark, rows, "doc_id bigint, url string").write.parquet(
        src
    )
    stream = spark.readStream.schema("doc_id bigint, url string").parquet(
        src
    )
    q = (
        stream.withColumn("url_key", wb.normalize_url("url"))
        .dropDuplicates(["url_key"])
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(once=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out).collect()
    keys = sorted(r.url_key for r in got)
    assert len(got) == 2
    assert keys == ["https://ex.com/other", "https://ex.com/p?a=1&z=9"]


def test_postings_ingest_streaming_and_replay(spark, tmp_path):
    """Streaming inverted-index ingestion: postings land
    replay-idempotently per batch, the sidecar totals the per-batch
    entries, and live probes equal the inline scorer over everything
    ingested. Re-running the admitter with the same batch id must
    not change the index."""
    from datasplash_spark.functions import text as tx
    from datasplash_spark.streaming import postings_admitter, postings_ingest

    src = str(tmp_path / "psrc")
    store = str(tmp_path / "pstore")
    ckpt = str(tmp_path / "pckpt")
    rows = [(i, f"alpha beta doc{i} " + "alpha " * (i % 3)) for i in range(12)]
    df = generate_input(spark, rows, "doc_id bigint, text string")
    df.write.parquet(src)
    stream = spark.readStream.schema("doc_id bigint, text string").parquet(src)
    q = postings_ingest(stream, store, ckpt, n_buckets=8, trigger="once")
    q.awaitTermination(120)

    terms = ["alpha", "doc3"]
    inline = {
        (r.doc_id, r.n_matched, r.score_nano)
        for r in tx.bm25_scores(df, terms).collect()
    }
    stored = {
        (r.doc_id, r.n_matched, r.score_nano)
        for r in tx.bm25_from_store(spark, store, terms).collect()
    }
    assert inline == stored and len(inline) == 12

    # out-of-band replay of batch 0: same data, same batch id ->
    # the index must be byte-for-byte equivalent (scores unchanged)
    postings_admitter(store, n_buckets=8)(df, 0)
    replayed = {
        (r.doc_id, r.n_matched, r.score_nano)
        for r in tx.bm25_from_store(spark, store, terms).collect()
    }
    assert replayed == inline


def _stream_stats(store):
    """``(per-batch entries, totals)``: the ``_postings_batches`` and
    ``_postings_stats`` sidecars of a stream-layout postings store."""
    import json
    import os

    def read(name):
        with open(os.path.join(store, name, "part-00000.txt")) as fh:
            return json.loads(fh.read())

    return read("_postings_batches"), read("_postings_stats")


def _assert_postings_stats_exact(spark, store, union, terms):
    """The totals sidecar keeps its keys and equals both the sum of the
    per-batch entries and the store-wide distinct (doc_id, dl)
    recompute; bm25_from_store equals bm25_scores over ``union``."""
    from datasplash_spark.functions import text as tx

    batches, stats = _stream_stats(store)
    assert set(stats) == {"n_docs", "sum_dl", "n_dl", "avgdl", "n_buckets"}
    row = (
        spark.read.parquet(store).select("doc_id", "dl").distinct()
        .agg(F.count(F.lit(1)).alias("n"), F.sum("dl").alias("s")).first()
    )
    assert (stats["n_docs"], stats["sum_dl"], stats["n_dl"]) == (
        row.n, row.s, row.n
    )
    assert [sum(v[i] for v in batches.values()) for i in (0, 1)] == [
        row.n, row.s
    ]
    got, want = (
        sorted(tuple(r) for r in df.collect())
        for df in (
            tx.bm25_from_store(spark, store, terms),
            tx.bm25_scores(union, terms),
        )
    )
    assert got == want and got


def test_postings_admit_runs_only_its_write(spark, tmp_path):
    """One admit runs exactly one SQL execution, the postings write,
    and no job outside it: the batch's (n, sum dl) come from an
    Observation on the write, and nothing reads the store afterwards.
    The first admit to a new store runs no query to find the
    per-batch sidecar missing."""
    from datasplash_spark.streaming import postings_admitter

    store = str(tmp_path / "store")
    rows = [(i, f"alpha beta doc{i}") for i in range(8)]
    df = generate_input(spark, rows, "doc_id bigint, text string")
    admit = postings_admitter(store, n_buckets=8)
    sc = spark.sparkContext
    for batch_id, part in enumerate(
        (df.where("doc_id < 4"), df.where("doc_id >= 4"))
    ):
        last, group = last_sql_execution(spark), f"admit-{batch_id}"
        sc.setJobGroup(group, group)
        try:
            admit(part, batch_id)
        finally:
            sc._jsc.clearJobGroup()
        work = sql_executions_since(spark, last)
        assert len(work) == 1, [d for d, _p, _j in work]
        _desc, plan, n_jobs = work[0]
        assert "InsertIntoHadoopFsRelationCommand" in plan
        assert not [
            line for line in plan.splitlines()
            if "Location:" in line and "store" in line
        ], plan
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == n_jobs
    batches, _stats = _stream_stats(store)
    assert batches == {"0": [4, 12], "1": [4, 12]}


def test_postings_admitter_per_batch_entries_and_replay(spark, tmp_path):
    """Each batch id keeps its own (n, sum dl) entry; replaying batch
    1 after batches 0-2 overwrites its entry and changes neither
    sidecar, and the totals stay equal to the store-wide recompute
    with probes equal to the inline scorer over the union."""
    from datasplash_spark.streaming import postings_admitter

    store = str(tmp_path / "store")
    rows = [(i, f"alpha beta doc{i} " + "alpha " * (i % 4)) for i in range(12)]
    df = generate_input(spark, rows, "doc_id bigint, text string")
    parts = [df.where(f"doc_id % 3 = {k}") for k in range(3)]
    admit = postings_admitter(store, n_buckets=8)
    for k, part in enumerate(parts):
        admit(part, k)
    before = _stream_stats(store)
    assert sorted(before[0]) == ["0", "1", "2"]
    admit(parts[1], 1)
    assert _stream_stats(store) == before
    _assert_postings_stats_exact(spark, store, df, ["alpha", "doc4"])


def test_postings_stats_seed_from_store_on_next_admit(spark, tmp_path):
    """Stores without admitter-written per-batch entries stay exact
    after their next admit: one an older admitter wrote (its entries
    are seeded from the store), and ones convert_postings_layout and
    compact_postings wrote (their entries come from the store-wide
    aggregate grouped by _batch_id)."""
    import shutil

    from datasplash_spark.functions import text as tx
    from datasplash_spark.streaming import compact_postings, postings_admitter

    rows = [(i, f"alpha beta doc{i} " + "gamma " * (i % 3)) for i in range(16)]
    df = generate_input(spark, rows, "doc_id bigint, text string")
    parts = [df.where(f"doc_id % 4 = {k}") for k in range(4)]
    terms = ["alpha", "gamma", "doc5"]

    older = str(tmp_path / "older")
    admit = postings_admitter(older, n_buckets=8)
    admit(parts[0], 0)
    admit(parts[1], 1)
    shutil.rmtree(older + "/_postings_batches")
    admit(parts[2], 2)
    assert sorted(_stream_stats(older)[0]) == ["0", "1", "2"]
    _assert_postings_stats_exact(
        spark, older, parts[0].union(parts[1]).union(parts[2]), terms
    )

    converted = str(tmp_path / "converted")
    tx.materialize_postings(parts[0], converted, n_buckets=8)
    tx.convert_postings_layout(spark, converted, to="stream")
    assert sorted(_stream_stats(converted)[0]) == ["-1"]
    postings_admitter(converted, n_buckets=8)(parts[1], 7)
    _assert_postings_stats_exact(
        spark, converted, parts[0].union(parts[1]), terms
    )

    compacted = str(tmp_path / "compacted")
    admit = postings_admitter(compacted, n_buckets=8)
    for k in range(3):
        admit(parts[k], k)
    assert compact_postings(spark, compacted, keep_last=1) == 2
    assert sorted(_stream_stats(compacted)[0]) == ["-1", "2"]
    admit(parts[3], 3)
    _assert_postings_stats_exact(spark, compacted, df, terms)


def test_postings_stats_count_cross_batch_duplicates_twice(spark, tmp_path):
    """A doc_id admitted in two batches counts twice in the stats, as
    its postings already do (an append-only index; dedup upstream):
    the totals are the sum of the per-batch entries, not a store-wide
    distinct."""
    from datasplash_spark.streaming import postings_admitter

    store = str(tmp_path / "store")
    rows = [(i, f"alpha doc{i}") for i in range(6)]
    df = generate_input(spark, rows, "doc_id bigint, text string")
    admit = postings_admitter(store, n_buckets=8)
    admit(df.where("doc_id <= 3"), 0)
    admit(df.where("doc_id >= 3"), 1)
    batches, stats = _stream_stats(store)
    assert batches == {"0": [4, 8], "1": [3, 6]}
    assert (stats["n_docs"], stats["sum_dl"], stats["n_dl"]) == (7, 14, 7)
    assert spark.read.parquet(store).where("doc_id = 3").count() == 4


def test_compact_postings_preserves_probe_parity(spark, tmp_path):
    """Compacting the streaming postings store must preserve both the
    term-bucket pruning layout and exact probe scores; re-running
    compaction (crash self-heal) converges."""
    from datasplash_spark.functions import text as tx
    from datasplash_spark.streaming import compact_postings, postings_admitter

    store = str(tmp_path / "cstore")
    rows_a = [(i, f"alpha beta doc{i}") for i in range(8)]
    rows_b = [(100 + i, f"alpha gamma doc{100 + i}") for i in range(6)]
    dfa = generate_input(spark, rows_a, "doc_id bigint, text string")
    dfb = generate_input(spark, rows_b, "doc_id bigint, text string")
    admit = postings_admitter(store, n_buckets=8)
    admit(dfa, 0)
    admit(dfb, 1)
    union = dfa.union(dfb)
    terms = ["alpha", "doc102"]
    before = {
        (r.doc_id, r.n_matched, r.score_nano)
        for r in tx.bm25_from_store(spark, store, terms).collect()
    }
    n = compact_postings(spark, store, keep_last=0)
    assert n == 2
    after = {
        (r.doc_id, r.n_matched, r.score_nano)
        for r in tx.bm25_from_store(spark, store, terms).collect()
    }
    inline = {
        (r.doc_id, r.n_matched, r.score_nano)
        for r in tx.bm25_scores(union, terms).collect()
    }
    assert before == after == inline
    # bucket pruning still present after compaction
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        tx.bm25_from_store(spark, store, ["alpha"]).explain(True)
    part = [
        l for l in buf.getvalue().splitlines() if "PartitionFilters" in l
    ]
    assert part and "term_bucket" in part[0]
    # self-heal: compacting again is a no-op that stays exact
    assert compact_postings(spark, store, keep_last=0) == 0
    again = {
        (r.doc_id, r.n_matched, r.score_nano)
        for r in tx.bm25_from_store(spark, store, terms).collect()
    }
    assert again == inline


@pytest.mark.slow  # 21 s; compaction correctness is default-gated by
# test_compact_postings_preserves_probe_parity — this is the
# partial-crash-window convergence stress
def test_compact_postings_crash_window_self_heal(spark, tmp_path):
    """Simulated partial compaction failure: the compacted rows exist
    AND an absorbed batch directory is still present (the crash
    window before the deletes). Probes in the window tolerate the
    duplicates only by luck of term df doubling — the CONTRACT is
    that re-running compaction converges to the exact pre-crash
    scores."""
    import shutil

    from datasplash_spark.functions import text as tx
    from datasplash_spark.streaming import compact_postings, postings_admitter

    store = str(tmp_path / "chstore")
    rows = [(i, f"alpha beta doc{i}") for i in range(10)]
    df = generate_input(spark, rows, "doc_id bigint, text string")
    admit = postings_admitter(store, n_buckets=8)
    admit(df.where("doc_id < 5"), 0)
    admit(df.where("doc_id >= 5"), 1)
    terms = ["alpha", "doc7"]
    clean = {
        (r.doc_id, r.n_matched, r.score_nano)
        for r in tx.bm25_from_store(spark, store, terms).collect()
    }
    # stash a batch dir, compact, then restore it = crashed deletes
    batch0 = f"{store}/_batch_id=0"
    stash = str(tmp_path / "stash")
    shutil.copytree(batch0, stash)
    assert compact_postings(spark, store, keep_last=0) == 2
    shutil.copytree(stash, batch0)
    # re-run heals: duplicate (doc, term) postings collapse again
    assert compact_postings(spark, store, keep_last=0) == 1
    healed = {
        (r.doc_id, r.n_matched, r.score_nano)
        for r in tx.bm25_from_store(spark, store, terms).collect()
    }
    assert healed == clean


@pytest.mark.slow  # 53 s, the single heaviest test; both conversion
# directions stay default-gated by
# test_convert_postings_layout_crash_swap_self_heal — this is the
# exhaustive keep-growing-after-conversion twin
def test_convert_postings_layout_roundtrip(spark, tmp_path):
    """Round-7 bridge: a batch-grown store converts to the streaming
    layout and can keep growing via the streaming admitter; a
    stream-grown store converts to the batch layout and can keep
    growing via append_postings — probe scores stay exactly equal to
    the inline scorer over the union corpus at every step, and
    term-bucket pruning survives both directions."""
    from datasplash_spark.functions import text as tx
    from datasplash_spark.streaming import postings_admitter

    rows_a = [(i, f"alpha beta doc{i}") for i in range(8)]
    rows_b = [(100 + i, f"alpha gamma doc{100 + i}") for i in range(6)]
    rows_c = [(200 + i, f"beta gamma doc{200 + i}") for i in range(5)]
    dfa = generate_input(spark, rows_a, "doc_id bigint, text string")
    dfb = generate_input(spark, rows_b, "doc_id bigint, text string")
    dfc = generate_input(spark, rows_c, "doc_id bigint, text string")
    terms = ["alpha", "beta", "doc102"]

    def probe(store):
        return {
            (r.doc_id, r.n_matched, r.score_nano)
            for r in tx.bm25_from_store(spark, store, terms).collect()
        }

    def inline(df):
        return {
            (r.doc_id, r.n_matched, r.score_nano)
            for r in tx.bm25_scores(df, terms).collect()
        }

    # batch-grown -> stream layout -> grow via streaming admitter
    s1 = str(tmp_path / "b2s")
    tx.materialize_postings(dfa, s1, n_buckets=8)
    tx.convert_postings_layout(spark, s1, to="stream")
    assert probe(s1) == inline(dfa)
    postings_admitter(s1, n_buckets=8)(dfb, 7)
    assert probe(s1) == inline(dfa.union(dfb))
    # converting again is loudly rejected, not silently re-run
    with pytest.raises(ValueError, match="already"):
        tx.convert_postings_layout(spark, s1, to="stream")

    # stream-grown -> batch layout -> grow via append_postings
    s2 = str(tmp_path / "s2b")
    admit = postings_admitter(s2, n_buckets=8)
    admit(dfa, 0)
    admit(dfb, 1)
    tx.convert_postings_layout(spark, s2, to="batch")
    assert probe(s2) == inline(dfa.union(dfb))
    tx.append_postings(dfc, s2)
    assert probe(s2) == inline(dfa.union(dfb).union(dfc))
    # pruning still reaches the scan after conversion
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        tx.bm25_from_store(spark, s2, ["alpha"]).explain(True)
    part = [
        l for l in buf.getvalue().splitlines() if "PartitionFilters" in l
    ]
    assert part and "term_bucket" in part[0]


def test_convert_postings_layout_crash_swap_self_heal(spark, tmp_path):
    """A convert that crashes AFTER staging completes but before the
    swap finishes must complete on re-run (the staged dir
    short-circuits the rewrite; renames are idempotent)."""
    from datasplash_spark.functions import text as tx
    from datasplash_spark.streaming import postings_admitter

    store = str(tmp_path / "crash")
    rows = [(i, f"alpha beta doc{i}") for i in range(8)]
    df = generate_input(spark, rows, "doc_id bigint, text string")
    admit = postings_admitter(store, n_buckets=8)
    admit(df, 0)

    # simulate the crash: stage the batch layout fully, then stop
    # before any rename (this is exactly the state a kill at the
    # swap boundary leaves behind)
    out = (
        spark.read.parquet(store)
        .drop("_batch_id")
    )
    out.write.partitionBy("term_bucket").parquet(store + "__convert")
    # re-run completes the swap without re-reading a mixed root
    tx.convert_postings_layout(spark, store, to="batch")
    got = {
        (r.doc_id, r.n_matched, r.score_nano)
        for r in tx.bm25_from_store(spark, store, ["alpha", "doc3"]).collect()
    }
    exp = {
        (r.doc_id, r.n_matched, r.score_nano)
        for r in tx.bm25_scores(df, ["alpha", "doc3"]).collect()
    }
    assert got == exp
    import os

    assert not os.path.exists(store + "__convert")
    assert not os.path.exists(store + "__convert_old")


def test_tar_shard_streaming_ingest(spark, tmp_path):
    """Streaming WebDataset ingest (round 10): new tar shards landing
    in a watched directory flow through the member split into a
    parquet sink; a second shard arriving between availableNow drains
    appends only its members (file-source exactly-once)."""
    import io
    import tarfile

    from datasplash_spark.sources.archives import read_tar_shards

    src = tmp_path / "in"
    src.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def shard(s, n):
        with tarfile.open(src / f"s{s}.tar", "w") as tf:
            for k in range(n):
                data = f"{s}-{k}".encode()
                info = tarfile.TarInfo(f"{s:02d}{k:02d}.txt")
                info.size = len(data)
                tf.addfile(info, io.BytesIO(data))

    shard(0, 3)
    stream = read_tar_shards(spark, str(src), watch_new_files=True)
    assert stream.isStreaming

    def drain():
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    got = spark.read.parquet(out)
    assert got.count() == 3
    shard(1, 2)
    drain()
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 5
    assert {bytes(r.data).decode() for r in rows} == {
        "0-0", "0-1", "0-2", "1-0", "1-1",
    }
    assert {r.ext for r in rows} == {"txt"}


def test_paned_window_agg_after_watermark(spark, tmp_path):
    """Beam pane emulation, AfterWatermark shape (round 10): EARLY
    panes every early_count elements, one ON_TIME pane when the
    watermark passes the window end, LATE panes for late data inside
    allowed_lateness — pane_index increments across firings and
    accumulating mode emits the running aggregate in every pane."""
    from datasplash_spark.streaming.triggers import paned_window_agg

    src = tmp_path / "panes_src"
    src.mkdir()
    # batch 1: two early rows for a's [0,60) window
    (src / "f1.txt").write_text(
        "a,2024-01-01 00:00:10,1\na,2024-01-01 00:00:20,2\n"
    )
    time.sleep(0.05)
    # batch 2: one more on-time row (below early_count)
    (src / "f2.txt").write_text("a,2024-01-01 00:00:30,4\n")
    time.sleep(0.05)
    # batch 3: watermark jumper (other key, far future)
    (src / "f3.txt").write_text("b,2024-01-01 00:02:30,9\n")
    time.sleep(0.05)
    # batch 4: LATE data for a's window (watermark already past end)
    (src / "f4.txt").write_text("a,2024-01-01 00:00:50,10\n")
    time.sleep(0.05)
    # batch 5: advance watermark past window_end + lateness
    (src / "f5.txt").write_text("b,2024-01-01 00:09:00,0\n")

    stream = (
        spark.readStream.option("maxFilesPerTrigger", 1)
        .text(str(src))
        .select(
            F.split("value", ",").getItem(0).alias("k"),
            F.to_timestamp(F.split("value", ",").getItem(1)).alias("ts"),
            F.split("value", ",").getItem(2).cast("long").alias("v"),
        )
    )
    panes = paned_window_agg(
        stream,
        time_col="ts",
        key_col="k",
        window_duration="60 seconds",
        value_col="v",
        trigger="after-watermark",
        accumulation="accumulating",
        early_count=2,
        allowed_lateness="60 seconds",
        watermark_delay="5 seconds",
    )
    q = write_stream(
        panes,
        "memory",
        checkpoint_dir=str(tmp_path / "ckpt_panes"),
        trigger="once",
        output_mode="append",
        query_name="panes_test",
    )
    q.awaitTermination(240)
    rows = [
        (r.pane_index, r.pane_timing, r.value, r.is_last)
        for r in spark.sql(
            "SELECT * FROM panes_test WHERE key = 'a' ORDER BY pane_index"
        ).collect()
    ]
    assert rows == [
        (0, "EARLY", 3, False),     # 1+2 at early_count
        (1, "ON_TIME", 7, False),   # +4, watermark passed window end
        (2, "LATE", 17, False),     # +10 late within lateness
    ], rows


def test_paned_window_agg_after_count_discarding(spark, tmp_path):
    """Beam pane emulation, Repeatedly(AfterCount N) + DISCARDING:
    each pane carries only the delta since the previous pane, a
    residual final pane fires at window close with is_last=True, and
    the discarding panes sum to the window total."""
    from datasplash_spark.streaming.triggers import paned_window_agg

    src = tmp_path / "cnt_src"
    src.mkdir()
    (src / "f1.txt").write_text(
        "a,2024-01-01 00:00:05,1\na,2024-01-01 00:00:06,2\n"
    )
    time.sleep(0.05)
    (src / "f2.txt").write_text("a,2024-01-01 00:00:07,4\n")
    time.sleep(0.05)
    (src / "f3.txt").write_text("b,2024-01-01 00:05:00,9\n")

    stream = (
        spark.readStream.option("maxFilesPerTrigger", 1)
        .text(str(src))
        .select(
            F.split("value", ",").getItem(0).alias("k"),
            F.to_timestamp(F.split("value", ",").getItem(1)).alias("ts"),
            F.split("value", ",").getItem(2).cast("long").alias("v"),
        )
    )
    panes = paned_window_agg(
        stream,
        time_col="ts",
        key_col="k",
        window_duration="60 seconds",
        value_col="v",
        trigger={"after-count": 2},
        accumulation="discarding",
        watermark_delay="5 seconds",
    )
    q = write_stream(
        panes,
        "memory",
        checkpoint_dir=str(tmp_path / "ckpt_cnt"),
        trigger="once",
        output_mode="append",
        query_name="cnt_test",
    )
    q.awaitTermination(240)
    rows = [
        (r.pane_index, r.pane_timing, r.value, r.is_last, r.pane_rows)
        for r in spark.sql(
            "SELECT * FROM cnt_test WHERE key = 'a' ORDER BY pane_index"
        ).collect()
    ]
    assert rows == [
        (0, "EARLY", 3, False, 2),
        (1, "ON_TIME", 4, True, 1),
    ], rows
    assert sum(r[2] for r in rows) == 7  # discarding panes sum to total


def test_paned_session_agg_merge_and_close(spark, tmp_path):
    """Session windows composed with triggers (round 11): gap-merged
    sessions fire EARLY panes at early_count, MERGE across a
    bridging event (accumulators combine, pane_index continues from
    the largest merged component), and close with one ON_TIME
    is_last pane when the watermark passes session end. The full
    pane sequence for key 'a' is pinned."""
    from datasplash_spark.streaming.triggers import paned_session_agg

    src = tmp_path / "sess_src"
    src.mkdir()
    # two separated proto-sessions
    (src / "f1.txt").write_text(
        "a,2024-01-01 00:00:10,1\na,2024-01-01 00:03:20,2\n"
    )
    time.sleep(0.05)
    # extends session 1 -> EARLY (n_since 2)
    (src / "f2.txt").write_text("a,2024-01-01 00:00:50,4\n")
    time.sleep(0.05)
    # extends session 2 -> EARLY (n_since 2)
    (src / "f3.txt").write_text("a,2024-01-01 00:02:30,8\n")
    time.sleep(0.05)
    # bridges BOTH sessions: [10,110) + [150,260) + proto[100,160)
    (src / "f4.txt").write_text("a,2024-01-01 00:01:40,16\n")
    time.sleep(0.05)
    # one more -> EARLY on the merged session
    (src / "f5.txt").write_text("a,2024-01-01 00:01:45,32\n")
    time.sleep(0.05)
    # watermark jumper: close a's merged session
    (src / "f6.txt").write_text("b,2024-01-01 00:30:00,0\n")

    stream = (
        spark.readStream.option("maxFilesPerTrigger", 1)
        .text(str(src))
        .select(
            F.split("value", ",").getItem(0).alias("k"),
            F.to_timestamp(F.split("value", ",").getItem(1)).alias("ts"),
            F.split("value", ",").getItem(2).cast("long").alias("v"),
        )
    )
    panes = paned_session_agg(
        stream,
        time_col="ts",
        key_col="k",
        gap="60 seconds",
        value_col="v",
        trigger="after-watermark",
        accumulation="accumulating",
        early_count=2,
        watermark_delay="10 minutes",
    )
    q = write_stream(
        panes,
        "memory",
        checkpoint_dir=str(tmp_path / "ckpt_sess"),
        trigger="once",
        output_mode="append",
        query_name="sess_panes",
    )
    q.awaitTermination(240)
    rows = [
        (r.pane_index, r.pane_timing, r.value, r.is_last,
         r.window_start.strftime("%H:%M:%S"),
         r.window_end.strftime("%H:%M:%S"))
        for r in spark.sql(
            "SELECT * FROM sess_panes WHERE key = 'a' "
            "ORDER BY pane_index, value"
        ).collect()
    ]
    assert rows == [
        # the two pre-merge sessions each fired one EARLY pane
        (0, "EARLY", 5, False, "00:00:10", "00:01:50"),
        (0, "EARLY", 10, False, "00:02:30", "00:04:20"),
        # merged session: accs combined (5+10+16), pane_index
        # continued at 1, fired EARLY again on the next element
        (1, "EARLY", 63, False, "00:00:10", "00:04:20"),
        # watermark past merged end: ON_TIME, accumulating total
        (2, "ON_TIME", 63, True, "00:00:10", "00:04:20"),
    ], rows


def test_paned_window_agg_user_combiner(spark, tmp_path):
    """paned_window_agg with a user CombineFn 4-tuple (round 11):
    the accumulator lives pickled in the state cell, EARLY fires on
    after-count, DISCARDING resets the accumulator (not a numeric
    delta), and extract renders into value_type."""
    from datasplash_spark.streaming.triggers import paned_window_agg

    src = tmp_path / "cmb_src"
    src.mkdir()
    (src / "f1.txt").write_text(
        "a,2024-01-01 00:00:05,3\na,2024-01-01 00:00:06,1\n"
    )
    time.sleep(0.05)
    (src / "f2.txt").write_text("a,2024-01-01 00:00:07,2\n")
    time.sleep(0.05)
    (src / "f3.txt").write_text("b,2024-01-01 00:05:00,9\n")

    stream = (
        spark.readStream.option("maxFilesPerTrigger", 1)
        .text(str(src))
        .select(
            F.split("value", ",").getItem(0).alias("k"),
            F.to_timestamp(F.split("value", ",").getItem(1)).alias("ts"),
            F.split("value", ",").getItem(2).cast("long").alias("v"),
        )
    )
    panes = paned_window_agg(
        stream,
        time_col="ts",
        key_col="k",
        window_duration="60 seconds",
        value_col="v",
        trigger={"after-count": 2},
        accumulation="discarding",
        watermark_delay="5 seconds",
        combine_fn={
            "init": list,
            "reduce": lambda acc, v: acc + [int(v)],
            "combine": lambda a, b: a + b,
            "extract": lambda acc: ",".join(map(str, sorted(acc))),
        },
        value_type="string",
    )
    q = write_stream(
        panes,
        "memory",
        checkpoint_dir=str(tmp_path / "ckpt_cmb"),
        trigger="once",
        output_mode="append",
        query_name="cmb_panes",
    )
    q.awaitTermination(240)
    rows = [
        (r.pane_index, r.pane_timing, r.value, r.is_last)
        for r in spark.sql(
            "SELECT * FROM cmb_panes WHERE key = 'a' ORDER BY pane_index"
        ).collect()
    ]
    assert rows == [
        (0, "EARLY", "1,3", False),   # sorted list join, not a sum
        (1, "ON_TIME", "2", True),    # discarding RESET the list
    ], rows


def test_paned_session_agg_late_event_merges_into_live_session(
    spark, tmp_path
):
    """Beam merges an element into a live session BEFORE expiry is
    judged: an event whose own proto-window already expired (ts +
    gap <= watermark) still merges when it overlaps an open session
    — extending the window start — while an expired event that
    overlaps nothing (key c: its session already closed ON_TIME)
    drops. Delivery note: Spark filters rows older than the
    PREVIOUS batch's watermark before the machine sees them, so the
    fixture keeps the late rows inside that bound."""
    from datasplash_spark.streaming.triggers import paned_session_agg

    src = tmp_path / "late_src"
    src.mkdir()
    # a's session [100,130); c's session [20,50)
    (src / "f1.txt").write_text(
        "a,2024-01-01 00:01:40,1\nc,2024-01-01 00:00:20,1\n"
    )
    time.sleep(0.05)
    # watermark -> 95 s: c's session (end 50) closes ON_TIME; a's
    # (end 130) stays open
    (src / "f2.txt").write_text("b,2024-01-01 00:02:15,0\n")
    time.sleep(0.05)
    # current watermark now 130 s; late filter (previous batch's
    # watermark) is 95 s, so both rows below ARE delivered:
    # a@97: proto [97,127) expired (127 <= 130) but overlaps a's
    #       open [100,130) -> MERGES, start extends to 00:01:37;
    # c@96: proto [96,126) expired and c has no open session -> DROP
    (src / "f3.txt").write_text(
        "a,2024-01-01 00:01:37,4\nc,2024-01-01 00:01:36,8\n"
    )
    time.sleep(0.05)
    (src / "f4.txt").write_text("b,2024-01-01 00:30:00,0\n")

    stream = (
        spark.readStream.option("maxFilesPerTrigger", 1)
        .text(str(src))
        .select(
            F.split("value", ",").getItem(0).alias("k"),
            F.to_timestamp(F.split("value", ",").getItem(1)).alias("ts"),
            F.split("value", ",").getItem(2).cast("long").alias("v"),
        )
    )
    panes = paned_session_agg(
        stream,
        time_col="ts",
        key_col="k",
        gap="30 seconds",
        value_col="v",
        watermark_delay="5 seconds",
    )
    q = write_stream(
        panes,
        "memory",
        checkpoint_dir=str(tmp_path / "ckpt_late"),
        trigger="once",
        output_mode="append",
        query_name="late_panes",
    )
    q.awaitTermination(240)
    rows = [
        (r.key, r.pane_index, r.pane_timing, r.value, r.is_last,
         r.window_start.strftime("%H:%M:%S"),
         r.window_end.strftime("%H:%M:%S"))
        for r in spark.sql(
            "SELECT * FROM late_panes WHERE key IN ('a', 'c') "
            "ORDER BY key, pane_index"
        ).collect()
    ]
    assert rows == [
        # a: 1 + the merged late 4; window start extended backward
        ("a", 0, "ON_TIME", 5, True, "00:01:37", "00:02:10"),
        # c: closed before the late row arrived; the 8 is dropped
        ("c", 0, "ON_TIME", 1, True, "00:00:20", "00:00:50"),
    ], rows


def test_paned_window_agg_lateness_bounds_delivery(spark, tmp_path):
    """Round-11 delivery fix: the Spark watermark lags the logical
    one by allowed_lateness, so a late row arriving several batches
    after the watermark passed the window end — beyond
    watermark_delay but inside allowed_lateness — is still DELIVERED
    and produces a LATE pane. Under the old delay-only watermark,
    Spark's stateful operator filtered this row before the machine
    saw it (silent data loss relative to Beam)."""
    from datasplash_spark.streaming.triggers import paned_window_agg

    src = tmp_path / "latedeliv_src"
    src.mkdir()
    # on-time rows for window [00:04:00, 00:05:00)
    (src / "f1.txt").write_text(
        "a,2024-01-01 00:04:05,1\na,2024-01-01 00:04:10,2\n"
    )
    time.sleep(0.05)
    # two watermark-advancing batches: logical watermark passes the
    # window end (ON_TIME fires), and the PREVIOUS-batch Spark
    # watermark a later row is filtered against reaches 00:06:00 -
    # 245s = 115s
    (src / "f2.txt").write_text("b,2024-01-01 00:06:00,0\n")
    time.sleep(0.05)
    (src / "f3.txt").write_text("b,2024-01-01 00:06:05,0\n")
    time.sleep(0.05)
    # the late row: 00:04:20 is ~105s older than the logical
    # watermark minus delay — far beyond watermark_delay (5s), well
    # inside allowed_lateness (240s)
    (src / "f4.txt").write_text("a,2024-01-01 00:04:20,10\n")
    time.sleep(0.05)
    (src / "f5.txt").write_text("b,2024-01-01 00:14:00,0\n")

    stream = (
        spark.readStream.option("maxFilesPerTrigger", 1)
        .text(str(src))
        .select(
            F.split("value", ",").getItem(0).alias("k"),
            F.to_timestamp(F.split("value", ",").getItem(1)).alias("ts"),
            F.split("value", ",").getItem(2).cast("long").alias("v"),
        )
    )
    panes = paned_window_agg(
        stream,
        time_col="ts",
        key_col="k",
        window_duration="60 seconds",
        value_col="v",
        trigger="after-watermark",
        accumulation="accumulating",
        allowed_lateness="240 seconds",
        watermark_delay="5 seconds",
    )
    q = write_stream(
        panes,
        "memory",
        checkpoint_dir=str(tmp_path / "ckpt_latedeliv"),
        trigger="once",
        output_mode="append",
        query_name="latedeliv_panes",
    )
    q.awaitTermination(240)
    rows = [
        (r.pane_index, r.pane_timing, r.value, r.is_last)
        for r in spark.sql(
            "SELECT * FROM latedeliv_panes WHERE key = 'a' "
            "ORDER BY pane_index"
        ).collect()
    ]
    assert rows == [
        (0, "ON_TIME", 3, False),
        (1, "LATE", 13, False),   # the late 10 arrived and counted
    ], rows


def test_warc_watch_new_files_streaming_drain(spark, tmp_path):
    """read_warc(watch_new_files=True): continuous crawl ingestion —
    new .warc.gz shards appearing in the directory drain into typed
    record rows exactly once, same contract as the tar/zip stream
    readers."""
    from datasplash_spark.sources.archives import encode_warc, read_warc

    src = tmp_path / "warc_watch"
    src.mkdir()
    out = str(tmp_path / "warc_out")
    ckpt = str(tmp_path / "warc_ckpt")

    def shard(s: int, n: int) -> None:
        recs = [
            {
                "warc_type": "response",
                "target_uri": "https://h.example.com/%d/%d" % (s, i),
                "content_type": "text/plain",
                "payload": ("%d-%d" % (s, i)).encode(),
            }
            for i in range(n)
        ]
        (src / ("%02d.warc.gz" % s)).write_bytes(
            encode_warc(recs, gzip_members=True)
        )

    shard(0, 3)
    stream = read_warc(spark, str(src), watch_new_files=True)
    assert stream.isStreaming

    def drain():
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    assert spark.read.parquet(out).count() == 3
    shard(1, 2)
    drain()
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 5
    assert {bytes(r.payload).decode() for r in rows} == {
        "0-0", "0-1", "0-2", "1-0", "1-1",
    }
    assert {r.warc_type for r in rows} == {"response"}
    assert all(r.content_length == 3 for r in rows)


def test_paned_session_agg_allowed_lateness(spark, tmp_path):
    """Session windows with allowed_lateness (round 11): the session
    fires ON_TIME (not last — lateness keeps it open), late data
    inside the lateness horizon is delivered, MERGES into the closed
    session (extending its window end), and fires a LATE pane; the
    session evicts silently after end + lateness."""
    from datasplash_spark.streaming.triggers import paned_session_agg

    src = tmp_path / "sess_late_src"
    src.mkdir()
    # session [04:00, 04:40) with gap 30s
    (src / "f1.txt").write_text(
        "a,2024-01-01 00:04:00,1\na,2024-01-01 00:04:10,2\n"
    )
    time.sleep(0.05)
    # two watermark steps: logical watermark passes the session end
    # (ON_TIME), while the delivery filter stays behind the late row
    (src / "f2.txt").write_text("b,2024-01-01 00:06:00,0\n")
    time.sleep(0.05)
    (src / "f3.txt").write_text("b,2024-01-01 00:06:05,0\n")
    time.sleep(0.05)
    # late row 00:04:20: inside lateness (120s) -> delivered, merges
    # into the CLOSED session (end extends 04:40 -> 04:50), LATE pane
    (src / "f4.txt").write_text("a,2024-01-01 00:04:20,4\n")
    time.sleep(0.05)
    (src / "f5.txt").write_text("b,2024-01-01 00:20:00,0\n")

    stream = (
        spark.readStream.option("maxFilesPerTrigger", 1)
        .text(str(src))
        .select(
            F.split("value", ",").getItem(0).alias("k"),
            F.to_timestamp(F.split("value", ",").getItem(1)).alias("ts"),
            F.split("value", ",").getItem(2).cast("long").alias("v"),
        )
    )
    panes = paned_session_agg(
        stream,
        time_col="ts",
        key_col="k",
        gap="30 seconds",
        value_col="v",
        allowed_lateness="120 seconds",
        watermark_delay="5 seconds",
    )
    q = write_stream(
        panes,
        "memory",
        checkpoint_dir=str(tmp_path / "ckpt_sess_late"),
        trigger="once",
        output_mode="append",
        query_name="sess_late_panes",
    )
    q.awaitTermination(240)
    rows = [
        (r.pane_index, r.pane_timing, r.value, r.is_last,
         r.window_start.strftime("%H:%M:%S"),
         r.window_end.strftime("%H:%M:%S"))
        for r in spark.sql(
            "SELECT * FROM sess_late_panes WHERE key = 'a' "
            "ORDER BY pane_index"
        ).collect()
    ]
    assert rows == [
        (0, "ON_TIME", 3, False, "00:04:00", "00:04:40"),
        (1, "LATE", 7, False, "00:04:00", "00:04:50"),
    ], rows


def test_paned_after_count_with_lateness_no_restart(spark, tmp_path):
    """Review fix (round 11): an after-count window with
    allowed_lateness must HOLD its state through the lateness
    horizon — previously the first timeout removed state while the
    lagged watermark kept delivering late rows, restarting the
    window (duplicate pane_index 0, value missing pre-close rows).
    Now the late row lands as a LATE pane on the accumulated
    state."""
    from datasplash_spark.streaming.triggers import paned_window_agg

    src = tmp_path / "acl_src"
    src.mkdir()
    (src / "f1.txt").write_text(
        "a,2024-01-01 00:04:05,1\na,2024-01-01 00:04:10,2\n"
    )
    time.sleep(0.05)
    (src / "f2.txt").write_text("b,2024-01-01 00:06:00,0\n")
    time.sleep(0.05)
    (src / "f3.txt").write_text("b,2024-01-01 00:06:05,0\n")
    time.sleep(0.05)
    (src / "f4.txt").write_text("a,2024-01-01 00:04:20,10\n")
    time.sleep(0.05)
    (src / "f5.txt").write_text("b,2024-01-01 00:14:00,0\n")

    stream = (
        spark.readStream.option("maxFilesPerTrigger", 1)
        .text(str(src))
        .select(
            F.split("value", ",").getItem(0).alias("k"),
            F.to_timestamp(F.split("value", ",").getItem(1)).alias("ts"),
            F.split("value", ",").getItem(2).cast("long").alias("v"),
        )
    )
    panes = paned_window_agg(
        stream,
        time_col="ts",
        key_col="k",
        window_duration="60 seconds",
        value_col="v",
        trigger={"after-count": 2},
        accumulation="accumulating",
        allowed_lateness="240 seconds",
        watermark_delay="5 seconds",
    )
    q = write_stream(
        panes, "memory",
        checkpoint_dir=str(tmp_path / "ckpt_acl"),
        trigger="once", output_mode="append", query_name="acl_panes",
    )
    q.awaitTermination(240)
    rows = [
        (r.pane_index, r.pane_timing, r.value, r.is_last)
        for r in spark.sql(
            "SELECT * FROM acl_panes WHERE key = 'a' ORDER BY pane_index"
        ).collect()
    ]
    assert rows == [
        (0, "EARLY", 3, False),
        (1, "LATE", 13, False),  # accumulated: no window restart
    ], rows


def test_paned_session_standalone_late_is_late(spark, tmp_path):
    """Review fix (round 11): a session born entirely behind the
    watermark (standalone late element inside the lateness horizon)
    is LATE from birth — its ON_TIME point has already passed."""
    from datasplash_spark.streaming.triggers import paned_session_agg

    src = tmp_path / "sl_src"
    src.mkdir()
    (src / "f1.txt").write_text("b,2024-01-01 00:06:00,0\n")
    time.sleep(0.05)
    (src / "f2.txt").write_text("b,2024-01-01 00:06:05,0\n")
    time.sleep(0.05)
    # a@04:20: proto-window [04:20, 04:50) is already behind the
    # logical watermark, delivered via the lateness lag
    (src / "f3.txt").write_text("a,2024-01-01 00:04:20,5\n")
    time.sleep(0.05)
    (src / "f4.txt").write_text("b,2024-01-01 00:20:00,0\n")

    stream = (
        spark.readStream.option("maxFilesPerTrigger", 1)
        .text(str(src))
        .select(
            F.split("value", ",").getItem(0).alias("k"),
            F.to_timestamp(F.split("value", ",").getItem(1)).alias("ts"),
            F.split("value", ",").getItem(2).cast("long").alias("v"),
        )
    )
    panes = paned_session_agg(
        stream,
        time_col="ts",
        key_col="k",
        gap="30 seconds",
        value_col="v",
        allowed_lateness="120 seconds",
        watermark_delay="5 seconds",
    )
    q = write_stream(
        panes, "memory",
        checkpoint_dir=str(tmp_path / "ckpt_sl"),
        trigger="once", output_mode="append", query_name="sl_panes",
    )
    q.awaitTermination(240)
    rows = [
        (r.pane_index, r.pane_timing, r.value, r.is_last)
        for r in spark.sql(
            "SELECT * FROM sl_panes WHERE key = 'a'"
        ).collect()
    ]
    assert rows == [(0, "LATE", 5, False)], rows


def test_trigger_composition_compile():
    """Composed trigger compilation (round 12): AfterFirst/AfterAll
    over after-count and after-processing-time sub-triggers,
    arbitrarily nested — the compiled predicate is the plain boolean
    combination (sound because both leaf conditions are monotone
    within a pane), and malformed shapes raise typed errors."""
    from datasplash_spark.streaming.triggers import (
        _compile_trigger_pred,
        _parse_trigger,
    )

    # leaf: count
    p, needs = _compile_trigger_pred({"after-count": 3})
    assert not needs
    assert not p(2, 0, 0) and p(3, 0, 0)
    # leaf: processing time (deadline from the pane's first element)
    p, needs = _compile_trigger_pred({"after-processing-time": "10 seconds"})
    assert needs
    assert not p(5, 0, 99_999_999)          # no first element yet
    assert not p(5, 1_000, 10_999)           # deadline not reached
    assert p(5, 1_000, 11_000)               # fpt + 10s <= now
    # AfterFirst: either fires
    p, needs = _compile_trigger_pred(
        {"after-first": [{"after-count": 2},
                         {"after-processing-time": "1 hour"}]}
    )
    assert needs
    assert p(2, 0, 0)                        # count leg
    assert p(1, 1_000, 3_601_000)            # ptime leg
    assert not p(1, 1_000, 3_600_999)
    # AfterAll: both must hold
    p, needs = _compile_trigger_pred(
        {"after-all": [{"after-count": 2},
                       {"after-processing-time": "0 seconds"}]}
    )
    assert not p(2, 0, 5)                    # ptime leg unset
    assert not p(1, 5, 5)                    # count leg short
    assert p(2, 5, 5)
    # nesting
    p, needs = _compile_trigger_pred(
        {"after-all": [
            {"after-count": 1},
            {"after-first": [{"after-count": 10},
                             {"after-processing-time": "0 seconds"}]},
        ]}
    )
    assert p(1, 5, 5) and not p(1, 0, 5) and p(10, 0, 5)
    # validation
    import pytest as _pytest

    for bad in (
        {"after-count": 0},
        {"after-first": []},
        {"nope": 1},
        {"after-count": 1, "after-processing-time": "1 second"},
        "gibberish",
    ):
        with _pytest.raises(ValueError):
            _parse_trigger(bad, "accumulating")


def test_paned_after_first_composition_count_leg(spark, tmp_path):
    """Repeatedly(AfterFirst(count 2, ptime 2h)) on fixed windows:
    with an hours-long processing-time leg the count leg decides
    every firing, so the pane sequence is exactly the plain
    after-count contract (EARLY at >=2 new elements, residual
    ON_TIME pane at window close carrying the remainder)."""
    from datasplash_spark.streaming.triggers import paned_window_agg

    src = tmp_path / "af_src"
    src.mkdir()
    (src / "f1.txt").write_text(
        "a,2024-01-01 00:00:05,1\na,2024-01-01 00:00:06,2\n"
    )
    time.sleep(0.05)
    (src / "f2.txt").write_text("a,2024-01-01 00:00:07,4\n")
    time.sleep(0.05)
    (src / "f3.txt").write_text("b,2024-01-01 00:05:00,9\n")

    stream = (
        spark.readStream.option("maxFilesPerTrigger", 1)
        .text(str(src))
        .select(
            F.split("value", ",").getItem(0).alias("k"),
            F.to_timestamp(F.split("value", ",").getItem(1)).alias("ts"),
            F.split("value", ",").getItem(2).cast("long").alias("v"),
        )
    )
    panes = paned_window_agg(
        stream,
        time_col="ts",
        key_col="k",
        window_duration="60 seconds",
        value_col="v",
        trigger={"after-first": [
            {"after-count": 2},
            {"after-processing-time": "2 hours"},
        ]},
        accumulation="discarding",
        watermark_delay="5 seconds",
    )
    q = write_stream(
        panes, "memory",
        checkpoint_dir=str(tmp_path / "ckpt_af"),
        trigger="once", output_mode="append", query_name="af_panes",
    )
    q.awaitTermination(240)
    rows = [
        (r.pane_index, r.pane_timing, r.value, r.is_last, r.pane_rows)
        for r in spark.sql(
            "SELECT * FROM af_panes WHERE key = 'a' ORDER BY pane_index"
        ).collect()
    ]
    assert rows == [
        (0, "EARLY", 3, False, 2),
        (1, "ON_TIME", 4, True, 1),
    ], rows


def test_paned_after_first_ptime_fires_each_batch(spark, tmp_path):
    """Repeatedly(AfterFirst(count 1000, ptime 0s)) on fixed
    windows: the zero-delay processing-time leg's deadline is met in
    the same micro-batch that delivers the pane's first element, so
    every data batch fires an EARLY pane while the count leg never
    does — and with nothing buffered at window close, no residual
    pane fires (Beam emits no empty final pane for Repeatedly
    triggers after at least one firing)."""
    from datasplash_spark.streaming.triggers import paned_window_agg

    src = tmp_path / "pt_src"
    src.mkdir()
    (src / "f1.txt").write_text(
        "a,2024-01-01 00:00:05,1\na,2024-01-01 00:00:06,2\n"
    )
    time.sleep(0.05)
    (src / "f2.txt").write_text("a,2024-01-01 00:00:07,4\n")
    time.sleep(0.05)
    (src / "f3.txt").write_text("b,2024-01-01 00:05:00,9\n")

    stream = (
        spark.readStream.option("maxFilesPerTrigger", 1)
        .text(str(src))
        .select(
            F.split("value", ",").getItem(0).alias("k"),
            F.to_timestamp(F.split("value", ",").getItem(1)).alias("ts"),
            F.split("value", ",").getItem(2).cast("long").alias("v"),
        )
    )
    panes = paned_window_agg(
        stream,
        time_col="ts",
        key_col="k",
        window_duration="60 seconds",
        value_col="v",
        trigger={"after-first": [
            {"after-count": 1000},
            {"after-processing-time": "0 seconds"},
        ]},
        accumulation="accumulating",
        watermark_delay="5 seconds",
    )
    q = write_stream(
        panes, "memory",
        checkpoint_dir=str(tmp_path / "ckpt_pt"),
        trigger="once", output_mode="append", query_name="pt_panes",
    )
    q.awaitTermination(240)
    rows = [
        (r.pane_index, r.pane_timing, r.value, r.is_last, r.pane_rows)
        for r in spark.sql(
            "SELECT * FROM pt_panes WHERE key = 'a' ORDER BY pane_index"
        ).collect()
    ]
    assert rows == [
        (0, "EARLY", 3, False, 2),   # batch 1: pane's first element
        (1, "EARLY", 7, False, 1),   # batch 2: new pane, 0s deadline
    ], rows


def test_paned_after_all_holds_until_both(spark, tmp_path):
    """Repeatedly(AfterAll(count 3, ptime 0s)) on fixed windows: the
    instant processing-time leg is satisfied from the pane's first
    element, so AfterAll reduces to the count leg — the 2-element
    first batch does NOT fire (count short), the third element
    completes the conjunction, and the composition is provably not
    an OR."""
    from datasplash_spark.streaming.triggers import paned_window_agg

    src = tmp_path / "aa_src"
    src.mkdir()
    (src / "f1.txt").write_text(
        "a,2024-01-01 00:00:05,1\na,2024-01-01 00:00:06,2\n"
    )
    time.sleep(0.05)
    (src / "f2.txt").write_text("a,2024-01-01 00:00:07,4\n")
    time.sleep(0.05)
    (src / "f3.txt").write_text("b,2024-01-01 00:05:00,9\n")

    stream = (
        spark.readStream.option("maxFilesPerTrigger", 1)
        .text(str(src))
        .select(
            F.split("value", ",").getItem(0).alias("k"),
            F.to_timestamp(F.split("value", ",").getItem(1)).alias("ts"),
            F.split("value", ",").getItem(2).cast("long").alias("v"),
        )
    )
    panes = paned_window_agg(
        stream,
        time_col="ts",
        key_col="k",
        window_duration="60 seconds",
        value_col="v",
        trigger={"after-all": [
            {"after-count": 3},
            {"after-processing-time": "0 seconds"},
        ]},
        accumulation="accumulating",
        watermark_delay="5 seconds",
    )
    q = write_stream(
        panes, "memory",
        checkpoint_dir=str(tmp_path / "ckpt_aa"),
        trigger="once", output_mode="append", query_name="aa_panes",
    )
    q.awaitTermination(240)
    rows = [
        (r.pane_index, r.pane_timing, r.value, r.is_last, r.pane_rows)
        for r in spark.sql(
            "SELECT * FROM aa_panes WHERE key = 'a' ORDER BY pane_index"
        ).collect()
    ]
    assert rows == [
        (0, "EARLY", 7, False, 3),   # fires only once count hits 3
    ], rows


def test_paned_session_composed_trigger(spark, tmp_path):
    """Session windows with a composed trigger (round 12):
    AfterFirst(count 1000, ptime 0s) fires an EARLY pane per data
    micro-batch on the open session, the panes accumulate across a
    gap-merge, and the watermark close still emits the final ON_TIME
    pane."""
    from datasplash_spark.streaming.triggers import paned_session_agg

    src = tmp_path / "sc_src"
    src.mkdir()
    (src / "f1.txt").write_text("a,2024-01-01 00:00:05,1\n")
    time.sleep(0.05)
    (src / "f2.txt").write_text("a,2024-01-01 00:00:20,2\n")
    time.sleep(0.05)
    (src / "f3.txt").write_text("b,2024-01-01 00:30:00,9\n")

    stream = (
        spark.readStream.option("maxFilesPerTrigger", 1)
        .text(str(src))
        .select(
            F.split("value", ",").getItem(0).alias("k"),
            F.to_timestamp(F.split("value", ",").getItem(1)).alias("ts"),
            F.split("value", ",").getItem(2).cast("long").alias("v"),
        )
    )
    panes = paned_session_agg(
        stream,
        time_col="ts",
        key_col="k",
        gap="30 seconds",
        value_col="v",
        trigger={"after-first": [
            {"after-count": 1000},
            {"after-processing-time": "0 seconds"},
        ]},
        accumulation="accumulating",
        watermark_delay="5 seconds",
    )
    q = write_stream(
        panes, "memory",
        checkpoint_dir=str(tmp_path / "ckpt_sc"),
        trigger="once", output_mode="append", query_name="sc_panes",
    )
    q.awaitTermination(240)
    rows = [
        (r.pane_index, r.pane_timing, r.value, r.is_last, r.pane_rows)
        for r in spark.sql(
            "SELECT * FROM sc_panes WHERE key = 'a' ORDER BY pane_index"
        ).collect()
    ]
    assert rows == [
        (0, "EARLY", 1, False, 1),    # batch 1 opens the session
        (1, "EARLY", 3, False, 1),    # batch 2 merges, fires again
        (2, "ON_TIME", 3, True, 0),   # watermark past session end
    ], rows


def test_web_ingest_stream_e2e_and_replay(spark, tmp_path):
    """Streaming web ingest (round 12): WARC shards arriving across
    micro-batches drain through extract -> robots -> quality ->
    paragraph dedup -> near-dup ADMISSION against the growing store
    (prep.web_ingest_stream composing read_warc(watch_new_files) with
    near_dedup_admitter). Pins: robots-gated URLs never land,
    intra-batch near-dups keep one survivor, a later batch's exact
    and near duplicates of stored docs are refused, a replayed batch
    id leaves the store byte-identical, and the per-batch cache
    handles are all released (zero persisted-relation growth)."""
    from datasplash_spark.functions import prep as pp
    from datasplash_spark.sources import archives as ar
    from datasplash_spark.streaming.neardup import near_dedup_admitter

    texts = {
        i: " ".join(
            "w%d%s" % (j, chr(97 + (i * 7 + j) % 26)) for j in range(40)
        )
        for i in range(3)
    }

    def page(uri, text):
        return (
            0, uri,
            ("<html><body><p>%s</p></body></html>" % text).encode(),
        )

    near0 = texts[0].split(" ")
    near0[17] = "changedzero"
    near1 = texts[1].split(" ")
    near1[23] = "changedone"

    src = tmp_path / "crawl_stream"
    src.mkdir()
    store = str(tmp_path / "ingest_store")
    ckpt = str(tmp_path / "ingest_ckpt")
    robots = spark.createDataFrame(
        [("h0.example.com", "User-agent: *\nDisallow: /private/\n")],
        "host string, robots_txt string",
    )
    knobs = dict(
        min_tokens=5, words_per_para=40, num_hashes=32, bands=8,
    )

    def write_shard(name, rows):
        df = spark.createDataFrame(
            rows, "shard_id int, target_uri string, payload binary"
        )
        ar.write_warc_shards(df, str(src / name)).collect()

    def drain():
        q = pp.web_ingest_stream(
            spark, str(src) + "/*/*.warc.gz", robots, store, ckpt,
            trigger="once", **knobs,
        )
        q.awaitTermination(240)

    def store_urls():
        return {
            r.url.rsplit("/", 1)[-1]
            for r in spark.read.parquet(store).select("url").collect()
        }

    def n_cached():
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    cached0 = n_cached()

    # batch 0: two clean docs, an intra-batch near-dup of doc 0, and
    # a robots-disallowed page
    write_shard("s0", [
        page("https://h0.example.com/doc/0", texts[0]),
        page("https://h0.example.com/doc/1", texts[1]),
        page("https://h0.example.com/doc/900", " ".join(near0)),
        page("https://h0.example.com/private/3", texts[2]),
    ])
    drain()
    got = store_urls()
    assert "3" not in got                      # robots gate held
    assert len(got & {"0", "900"}) == 1        # intra-batch near-dup
    assert "1" in got and len(got) == 2, got

    # batch 1: one new doc, one EXACT dup of stored doc 1 under a new
    # URL, one NEAR dup of stored doc 1
    write_shard("s1", [
        page("https://h0.example.com/doc/2", texts[2]),
        page("https://h0.example.com/doc/901", texts[1]),
        page("https://h0.example.com/doc/902", " ".join(near1)),
    ])
    drain()
    got = store_urls()
    assert "2" in got and "901" not in got and "902" not in got, got
    assert len(got) == 3, got
    before = sorted(
        map(tuple, spark.read.parquet(store).drop("_batch_id").collect())
    )

    # replay batch id 1 with the same shard (Spark's at-least-once
    # contract after recovery): the composed admission must leave the
    # store byte-identical — the store view excludes the replaying
    # batch's own partition and the write overwrites only it
    recs = ar.read_warc(spark, str(src / "s1") + "/*.warc.gz").filter(
        (F.col("warc_type") == "response")
        & F.col("content_type").startswith("text/html")
    )
    rebuilt, caches = pp._web_page_rebuild(
        recs, robots, agent="*", min_tokens=5, max_punct=0.2,
        words_per_para=40, persist=True,
    )
    try:
        near_dedup_admitter(
            store, text="text", id_col="doc_id",
            num_hashes=32, bands=8, k=3, seed=42,
        )(rebuilt.select("doc_id", "url", "text", "n_paras", "n_kept"), 1)
    finally:
        for c in caches:
            c.unpersist()
    after = sorted(
        map(tuple, spark.read.parquet(store).drop("_batch_id").collect())
    )
    assert after == before

    # cache-handle release: the stream's per-batch persists (quality,
    # rebuilt, the admitter's batch pin) must all be gone
    assert n_cached() == cached0


def test_paned_early_firings_accept_trigger_specs(spark, tmp_path):
    """AfterWatermark.withEarlyFirings(AfterProcessingTime...) — the
    canonical Beam partial-results idiom (round 12): early= accepts
    any trigger spec, so with a zero-delay processing-time early
    trigger every pre-watermark data batch fires an EARLY pane and
    the watermark close still emits the final ON_TIME pane. Also
    pins the early/early_count exclusivity validation."""
    import pytest as _pytest

    from datasplash_spark.streaming.triggers import (
        _parse_early,
        paned_window_agg,
    )

    with _pytest.raises(ValueError):
        _parse_early({"after-count": 2}, 2)
    # early firings only mean anything under after-watermark: a
    # composed/count top-level trigger with an early spec must be a
    # typed error, never a silently-dropped argument (review finding)
    with _pytest.raises(ValueError):
        # df=None is fine: validation fires before the frame is used
        paned_window_agg(
            None,
            time_col="ts", key_col="k", window_duration="60 seconds",
            trigger={"after-count": 100},
            early={"after-processing-time": "30 seconds"},
        )
    p, needs = _parse_early(
        {"after-first": [{"after-count": 9},
                         {"after-processing-time": "0 seconds"}]},
        None,
    )
    assert needs and p(1, 5, 5)

    src = tmp_path / "ew_src"
    src.mkdir()
    (src / "f1.txt").write_text(
        "a,2024-01-01 00:00:05,1\na,2024-01-01 00:00:06,2\n"
    )
    time.sleep(0.05)
    (src / "f2.txt").write_text("a,2024-01-01 00:00:07,4\n")
    time.sleep(0.05)
    (src / "f3.txt").write_text("b,2024-01-01 00:05:00,9\n")

    stream = (
        spark.readStream.option("maxFilesPerTrigger", 1)
        .text(str(src))
        .select(
            F.split("value", ",").getItem(0).alias("k"),
            F.to_timestamp(F.split("value", ",").getItem(1)).alias("ts"),
            F.split("value", ",").getItem(2).cast("long").alias("v"),
        )
    )
    panes = paned_window_agg(
        stream,
        time_col="ts",
        key_col="k",
        window_duration="60 seconds",
        value_col="v",
        trigger="after-watermark",
        early={"after-processing-time": "0 seconds"},
        accumulation="accumulating",
        watermark_delay="5 seconds",
    )
    q = write_stream(
        panes, "memory",
        checkpoint_dir=str(tmp_path / "ckpt_ew"),
        trigger="once", output_mode="append", query_name="ew_panes",
    )
    q.awaitTermination(240)
    rows = [
        (r.pane_index, r.pane_timing, r.value, r.is_last, r.pane_rows)
        for r in spark.sql(
            "SELECT * FROM ew_panes WHERE key = 'a' ORDER BY pane_index"
        ).collect()
    ]
    assert rows == [
        (0, "EARLY", 3, False, 2),
        (1, "EARLY", 7, False, 1),
        (2, "ON_TIME", 7, True, 0),
    ], rows


def test_explain_streaming_state_error_recognizer():
    """ADVICE r12 (optional item): the state-store schema failure a
    pre-round-12 checkpoint raises is recognized and annotated with
    the fresh-checkpoint recipe; unrelated errors pass through as
    None."""
    from datasplash_spark.streaming.triggers import (
        explain_streaming_state_error,
    )

    hit = explain_streaming_state_error(
        Exception(
            "[STATE_STORE_VALUE_SCHEMA_NOT_COMPATIBLE] Provided "
            "schema doesn't match to the schema for existing state"
        )
    )
    assert hit and "fresh checkpoint" in hit.lower()
    assert explain_streaming_state_error(Exception("boom")) is None
    assert (
        explain_streaming_state_error(
            Exception("FileNotFoundException: /tmp/x")
        )
        is None
    )
