"""Streaming NEAR-dup ingestion: micro-batch admission against a
growing document store.

The reference has no analog (its unbounded sources feed stateless
ParDos); this is the LLM-pipeline extension surface. Spark's native
streaming dedup (``dedup_stream`` → ``dropDuplicatesWithinWatermark``)
is EXACT-key only; near-dup admission needs the LSH machinery, whose
bucket self-join / store probe are batch shapes — so the production
idiom is ``foreachBatch``: every micro-batch runs the existing batch
operators against the store and appends its admitted survivors.

Per batch:

1. intra-batch near-dup clustering (``dedup_clusters`` — identical
   text always collides in every band, so exact dups collapse too);
   the canonical min-id survivor per cluster is kept;
2. admission vs the store: LEFT ANTI on exact digests
   (``incremental_new_docs``), then the LSH bucket probe
   (``cross_corpus_pairs``) drops near-dups of already-stored docs;
3. admitted docs append to the store as a ``_batch_id=<id>``
   partition with dynamic-partition overwrite — AND the store read in
   step 2 EXCLUDES the current batch id, so a replayed batch (Spark
   guarantees at-least-once per batch id after recovery) neither
   duplicates rows nor deadlocks against its own half-written output:
   replay is byte-idempotent.

100 TB shape: per batch, the store side reduces to digests (exact
half) and (doc_id, bucket) pairs (near-dup half) — document text
never shuffles, and the incoming batch is broadcast-small vs the
store. Recomputing the store's banded table every batch is the one
deliberate simplification; a production deployment materializes it
once (``materialize_banded``) and appends admitted signatures
per batch — same joins, zero store-side recompute (documented in
``cross_corpus_pairs``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .sinks import foreach_batch_sink


def _store_has_data(spark, path: str) -> bool:
    """Explicit store-existence probe via Hadoop ``FileSystem`` —
    replaces classifying ``AnalysisException`` message text (ADVICE
    r4: a genuine read failure whose message happened to contain
    'does not exist' was silently treated as 'no store', skipping
    the dedup probe and admitting duplicates). True iff ``path``
    exists and holds at least one data file (recursive; Spark's
    hidden-file convention: names starting with ``_`` or ``.`` —
    ``_SUCCESS``, ``.part-…crc`` — are metadata, so a directory an
    admit-nothing batch left behind counts as 'no store yet').
    With this probe in place, ANY exception from the subsequent
    read is a real failure and propagates, failing the batch so
    Spark retries it."""
    sc = spark.sparkContext
    jpath = sc._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(sc._jsc.hadoopConfiguration())
    if not fs.exists(jpath):
        return False
    it = fs.listFiles(jpath, True)
    while it.hasNext():
        name = it.next().getPath().getName()
        if not name.startswith(("_", ".")):
            return True
    return False


def near_dedup_admitter(
    store_path: str,
    text: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    k: int = 3,
    seed: int = 42,
):
    """Build the ``batch_fn`` (for :func:`foreach_batch_sink` — or
    direct calls in tests/backfills) implementing near-dup admission
    into the parquet store at ``store_path``. Column names are
    strings here (the frame crosses the foreachBatch boundary by
    name, not by Column object).
    """
    from ..functions import dedup as dd

    def admit(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        from pyspark import StorageLevel

        batch_df = batch_df.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            # 1. intra-batch survivors (exact + near-dup).
            # Deliberately cache=False: dedup_clusters(cache=True)
            # persists its banded table with CALLER-owned lifetime,
            # which in a long-running stream would accumulate one
            # cached table per micro-batch; recomputing the
            # signature pass over the (persisted) batch rows is
            # bounded per batch and leaks nothing.
            clusters = dd.dedup_clusters(
                batch_df,
                text=text,
                id_col=id_col,
                num_hashes=num_hashes,
                bands=bands,
                k=k,
                seed=seed,
            )
            survivor_ids = clusters.filter(
                F.col("doc_id") == F.col("cluster_id")
            ).select(F.col("doc_id").alias(id_col))
            kept = batch_df.join(survivor_ids, on=id_col, how="left_semi")

            # 2. admission vs the store — excluding this batch's own
            # partition so replays are idempotent. Store existence is
            # probed explicitly (FileSystem, not exception-message
            # sniffing): once data exists, ANY read failure
            # (transient FS error, corrupt footer) FAILS the batch
            # so Spark retries it — swallowing it would skip dedup
            # for the batch and append duplicates permanently.
            if _store_has_data(spark, store_path):
                store = spark.read.parquet(store_path).filter(
                    F.col("_batch_id") != int(batch_id)
                )
                has_store = bool(store.head(1))
            else:
                store = None
                has_store = False
            if has_store:
                new_ids = dd.incremental_new_docs(
                    kept, store, text=text, id_col=id_col
                ).select(F.col("doc_id").alias(id_col))
                kept = kept.join(new_ids, on=id_col, how="left_semi")
                near = dd.cross_corpus_pairs(
                    kept,
                    store,
                    text=text,
                    id_col=id_col,
                    num_hashes=num_hashes,
                    bands=bands,
                    k=k,
                    seed=seed,
                ).select(F.col("doc_a").alias(id_col))
                kept = kept.join(near, on=id_col, how="left_anti")

            # 3. idempotent append: this batch's rows live in its own
            # partition; a replay overwrites only that partition
            (
                kept.withColumn("_batch_id", F.lit(int(batch_id)))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("_batch_id")
                .parquet(store_path)
            )
        finally:
            batch_df.unpersist()

    return admit


def near_dedup_ingest(
    stream_df: DataFrame,
    store_path: str,
    checkpoint_dir: str,
    text: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    k: int = 3,
    seed: int = 42,
    trigger: str | dict | None = None,
    query_name: str | None = None,
):
    """Start the streaming near-dup ingestion query: every micro-batch
    of ``stream_df`` is admitted against (and appended to) the store.
    Readers scan ``store_path`` and drop ``_batch_id``."""
    return foreach_batch_sink(
        stream_df,
        near_dedup_admitter(
            store_path,
            text=text,
            id_col=id_col,
            num_hashes=num_hashes,
            bands=bands,
            k=k,
            seed=seed,
        ),
        checkpoint_dir,
        trigger=trigger,
        query_name=query_name,
    )


def semantic_admitter(
    store_path: str,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    eps: float = 0.85,
):
    """Build the ``batch_fn`` for EMBEDDING-space streaming admission:
    the SemDeDup analog of :func:`near_dedup_admitter`. Per batch:
    intra-batch semantic dedup (``similarity.semantic_dedup``,
    keep-the-outlier survivors), then a store probe on the shared
    quantizer's cells drops vectors with cosine >= ``eps`` to any
    stored vector, then the admitted rows append as a
    ``_batch_id``-partitioned overwrite (replay-idempotent, same
    contract as the text admitter).

    ``centroids`` is REQUIRED and must stay fixed for the store's
    lifetime — batch and store rows only meet when they share a cell,
    so the quantizer is part of the store's on-disk contract (train
    it once, e.g. ``ivf_centroids`` + ``kmeans_refine`` over a
    bootstrap corpus, and persist it alongside the store).

    100 TB shape: the store reduces to (cell, embedding, norm) —
    norms are computed at WRITE time, so every probe costs one
    dot-product fold per same-cell candidate; the incoming batch is
    broadcast-small vs the store and only same-cell store rows are
    ever scored. Store schema:
    ``(vec_id, embedding, norm, cell, _batch_id)``.
    """
    from ..functions import similarity as sim

    if centroids is None or not len(centroids):
        raise ValueError(
            "semantic_admitter requires a fixed centroid list — the "
            "quantizer is part of the store's on-disk contract"
        )
    cents = [[float(x) for x in c] for c in centroids]

    def admit(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        from pyspark import StorageLevel

        # persist the raw batch: both the scored table below AND the
        # intra-batch semantic_dedup pass (whose internal plan
        # references its input several times) read it — without this
        # every reference re-scans the micro-batch source and re-runs
        # the K×dim assignment fold from scratch.
        batch_df = batch_df.persist(StorageLevel.MEMORY_AND_DISK)
        scored = (
            batch_df.select(
                F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
            )
            .withColumn("norm", sim.norm("embedding"))
            .withColumn(
                "_a", sim.ivf_assign("embedding", cents, norm_col="norm")
            )
            .select(
                "vec_id",
                "embedding",
                "norm",
                F.col("_a").getField("cid").alias("cell"),
            )
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        try:
            # 1. intra-batch survivors. cache=False inside (bounded
            # per-batch recompute; a persisted table per micro-batch
            # would leak across a long-running stream).
            kept_ids = (
                sim.semantic_dedup(
                    batch_df,
                    eps=eps,
                    vec_col=vec_col,
                    id_col=id_col,
                    centroids=cents,
                    # micro-batches are admission-bounded: skip the
                    # auto-probe's extra per-batch count job
                    pair_backend="expr",
                )
                .filter(F.col("keep") == 1)
                .select("vec_id")
            )
            kept = scored.join(kept_ids, on="vec_id", how="left_semi")

            # 2. store probe — excluding this batch's own partition
            # (replay idempotence). Existence is probed explicitly
            # (FileSystem); once data exists, any read failure fails
            # the batch so Spark retries it.
            if _store_has_data(spark, store_path):
                store = spark.read.parquet(store_path).filter(
                    F.col("_batch_id") != int(batch_id)
                )
                has_store = bool(store.head(1))
            else:
                store = None
                has_store = False
            if has_store:
                # id ledger: a re-sent id never re-admits
                kept = kept.join(
                    store.select("vec_id"), on="vec_id", how="left_anti"
                )
                s = store.select(
                    "cell",
                    F.col("embedding").alias("_se"),
                    F.col("norm").alias("_sn"),
                )
                denom = F.col("norm") * F.col("_sn")
                near_ids = (
                    s.join(F.broadcast(kept), "cell")  # store streams
                    .filter(
                        F.round(
                            F.when(
                                denom > 0,
                                sim.dot("embedding", "_se")
                                / denom,
                            ).otherwise(F.lit(0.0)),
                            9,
                        )
                        >= eps
                    )
                    .select("vec_id")
                    .distinct()
                )
                kept = kept.join(near_ids, on="vec_id", how="left_anti")

            # 3. idempotent per-batch partition overwrite
            (
                kept.withColumn("_batch_id", F.lit(int(batch_id)))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("_batch_id")
                .parquet(store_path)
            )
        finally:
            scored.unpersist()
            batch_df.unpersist()

    return admit


def semantic_ingest(
    stream_df: DataFrame,
    store_path: str,
    checkpoint_dir: str,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    eps: float = 0.85,
    trigger: str | dict | None = None,
    query_name: str | None = None,
):
    """Start the streaming SEMANTIC admission query: every micro-batch
    of ``stream_df`` is semantically deduped against (and appended to)
    the embedding store. Readers scan ``store_path`` and drop
    ``_batch_id``."""
    return foreach_batch_sink(
        stream_df,
        semantic_admitter(
            store_path, centroids, vec_col=vec_col, id_col=id_col, eps=eps
        ),
        checkpoint_dir,
        trigger=trigger,
        query_name=query_name,
    )


def quota_admitter(
    store_path: str,
    key: str = "source",
    max_rows_per_key: int = 1000,
    id_col: str = "doc_id",
    seed: int = 42,
):
    """Build the ``batch_fn`` for streaming per-key quota admission —
    the cross-batch form of ``quota_per_key`` (web-corpus domain
    caps): each micro-batch admits at most the key's REMAINING quota
    (``max_rows_per_key`` minus rows already in the store), chosen in
    deterministic md5(seed‖id) order within the batch.

    Replay contract: Spark's micro-batch engine is strictly serial
    (batch N+1 never starts before batch N commits), so on recovery
    the replayed batch sees the exact store state of its first
    attempt (its own ``_batch_id`` partition is excluded from the
    count) and admits the identical rows — the per-batch dynamic
    partition overwrite makes the append idempotent. An id LEDGER
    (left-anti on stored ids) additionally guarantees a re-sent id
    never consumes quota twice — and makes the admitter safe under
    :func:`compact_store` (whose absorbed rows stay visible to the
    ledger even when the batch-id exclusion no longer hides them).
    NULL keys are a quota key like any other (null-safe count join).

    100 TB shape: the store side reduces to a key-cardinality count
    table (one partial-agg over the key column only — document text
    never reads); the batch-side ranking is one WindowGroupLimit-
    eligible window per key.
    """
    from pyspark.sql import Window

    if max_rows_per_key <= 0:
        raise ValueError("quota_admitter: max_rows_per_key must be > 0")

    def admit(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if _store_has_data(spark, store_path):
            store = spark.read.parquet(store_path).filter(
                F.col("_batch_id") != int(batch_id)
            )
            used = store.groupBy(F.col(key).alias("_qk")).agg(
                F.count(F.lit(1)).alias("_used")
            )
            # id ledger: re-sent ids never re-admit (and never consume
            # quota twice); also the compaction-safety anchor
            batch_df = batch_df.join(
                store.select(id_col), on=id_col, how="left_anti"
            )
        else:
            used = None
        order = F.md5(
            F.concat(F.lit(str(seed)), F.col(id_col).cast("string"))
        )
        w = Window.partitionBy(key).orderBy(order.asc())
        ranked = batch_df.withColumn("_rn", F.row_number().over(w))
        if used is not None:
            ranked = ranked.join(
                F.broadcast(used),
                ranked[key].eqNullSafe(F.col("_qk")),
                "left",
            ).drop("_qk")
        else:
            ranked = ranked.withColumn("_used", F.lit(None).cast("long"))
        admitted = ranked.filter(
            F.col("_rn")
            <= F.lit(int(max_rows_per_key)) - F.coalesce("_used", F.lit(0))
        ).drop("_rn", "_used")
        (
            admitted.withColumn("_batch_id", F.lit(int(batch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id")
            .parquet(store_path)
        )

    return admit


def quota_ingest(
    stream_df: DataFrame,
    store_path: str,
    checkpoint_dir: str,
    key: str = "source",
    max_rows_per_key: int = 1000,
    id_col: str = "doc_id",
    seed: int = 42,
    trigger: str | dict | None = None,
    query_name: str | None = None,
):
    """Start the streaming quota-admission query: every micro-batch
    admits up to each key's remaining quota and appends to the store.
    Readers scan ``store_path`` and drop ``_batch_id``."""
    return foreach_batch_sink(
        stream_df,
        quota_admitter(
            store_path,
            key=key,
            max_rows_per_key=max_rows_per_key,
            id_col=id_col,
            seed=seed,
        ),
        checkpoint_dir,
        trigger=trigger,
        query_name=query_name,
    )


def compact_store(
    spark,
    store_path: str,
    compact_id: int = -1,
    id_col: str | None = None,
    keep_last: int = 1,
) -> int:
    """Offline small-file maintenance for the streaming stores: every
    micro-batch append leaves its own ``_batch_id=<n>`` partition, so
    a long-running ingest accumulates one file set per batch;
    compaction rewrites ALL current rows into the single partition
    ``_batch_id=<compact_id>`` (default −1 — never a real batch id,
    Spark batch ids are non-negative) and deletes the absorbed batch
    partitions. Returns the number of partitions absorbed.

    Contracts preserved:

    - **replay**: a recovered batch N excludes only ``_batch_id = N``
      from its store read; its rows now live under ``compact_id``, so
      the id ledger still sees them, admits nothing new, and its
      (empty) dynamic overwrite touches no partition — no duplicates,
      no data loss.
    - **crash window**: without a transactional table format there is
      an interval after the compacted write and before the old-dir
      deletes where rows exist twice. Compaction therefore drops
      exact duplicate ids at read time (keeping one row per id), so
      RE-RUNNING it after any partial failure self-heals; readers in
      the window should dedup by id (the admitters' own probes are
      membership tests, for which duplicates are harmless).

    ``keep_last`` (default 1) leaves the N highest-numbered batch
    partitions untouched: only the LAST batch can ever replay (the
    engine is serial), and leaving it un-absorbed preserves the
    batch-id-exclusion semantics for that replay even for admitters
    whose idempotence depends on it. The dedup-store admitters
    (near-dup/semantic/quota) all carry id ledgers, so ``keep_last=0``
    is also safe for them.

    Run it from a maintenance job while the stream is STOPPED (or
    between triggers): it must not race a concurrent batch write.
    """
    from pyspark.sql import Window

    sc = spark.sparkContext
    jpath = sc._jvm.org.apache.hadoop.fs.Path(store_path)
    fs = jpath.getFileSystem(sc._jsc.hadoopConfiguration())
    if not _store_has_data(spark, store_path):
        return 0
    candidates = sorted(
        (
            st.getPath()
            for st in fs.listStatus(jpath)
            if st.isDirectory()
            and st.getPath().getName().startswith("_batch_id=")
            and st.getPath().getName() != f"_batch_id={int(compact_id)}"
        ),
        key=lambda p: int(p.getName().split("=", 1)[1]),
    )
    old_parts = candidates[: len(candidates) - int(keep_last)] if keep_last else candidates
    if not old_parts:
        return 0
    keep_names = {p.getName() for p in candidates} - {
        p.getName() for p in old_parts
    }
    store = spark.read.parquet(store_path).filter(
        ~F.col("_batch_id").isin(
            [int(n.split("=", 1)[1]) for n in keep_names]
        )
        if keep_names
        else F.lit(True)
    )
    # the admitters write the input frame's columns verbatim with the
    # id first (doc_id / vec_id); pass id_col= for stores whose id is
    # elsewhere — it is the self-heal dedup key
    if id_col is None:
        id_col = store.columns[0]
    w = Window.partitionBy(id_col).orderBy(F.col("_batch_id").asc())
    deduped = (
        store.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_batch_id")
    )
    (
        deduped.withColumn("_batch_id", F.lit(int(compact_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_batch_id")
        .parquet(store_path)
    )
    for p in old_parts:
        fs.delete(p, True)
    return len(old_parts)


def postings_admitter(
    store_path: str,
    n_buckets: int = 32,
    text: str = "text",
    id_col: str = "doc_id",
):
    """``batch_fn`` for :func:`.sinks.foreach_batch_sink`: per
    micro-batch, tokenize the batch into (term, doc_id, tf, dl)
    postings and land them under the store's term-bucket layout as
    ``_batch_id=<id>`` partitions with dynamic OVERWRITE — a
    replayed batch rewrites exactly its own (batch, bucket) leaves,
    so the index is replay-idempotent keyed on the batch id (the
    same contract as the near-dup/semantic/quota stores).

    Stats follow the same key. The write observes its batch's
    ``(n, s)`` — docs with a token and their summed lengths — so no
    job runs after it (a batch without a single token counts through
    one aggregate instead, see ``text._write_postings``), and the
    admitter stores them as that batch
    id's entry in ``_postings_batches``, a sidecar only the store's
    writers read. A replayed id overwrites its own entry, and the
    ``_postings_stats`` totals the probes read are the sum of the
    entries, so their size does not grow with the batch count and
    no batch re-reads the store. A store without per-batch entries
    (written by ``convert_postings_layout(to="stream")`` or
    ``compact_postings`` before they wrote entries, or by an older
    admitter) is seeded on its next admit from one ``groupBy
    ("_batch_id")`` aggregate over the store; a new store seeds
    empty without a query. Both sidecars are written driver-side
    through the Hadoop FileSystem API (``_write_sidecar_text``).

    Caveats vs the batch path (:func:`..functions.text
    .append_postings`): documents with zero tokens produce no
    postings, so the streaming sidecar's ``n_docs`` counts only
    tokenized docs — probe scores equal the inline scorer exactly
    when every ingested doc has at least one token (pinned by the
    e2e test). Duplicate doc_ids ACROSS batches double-count, in
    the stats as in the postings, as in any append-only index —
    dedup upstream (the admitters compose).
    LAYOUT NOTE: stream-grown stores use ``_batch_id=/term_bucket=``
    levels and are incompatible on one path with the flat layout of
    the batch ``text.append_postings`` (parquet partition discovery
    rejects mixed structures) — pick one growth mode per store, or
    switch with ``text.convert_postings_layout`` (one distributed
    pass, crash-safe swap).
    """
    from ..functions.text import _write_batch_stats, _write_postings

    def admit(batch_df, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batches = _read_batch_stats(spark, store_path)
        _n_docs, sum_dl, n_dl = _write_postings(
            batch_df, text, id_col, n_buckets,
            lambda p: p.withColumn("_batch_id", F.lit(int(batch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id", "term_bucket")
            .parquet(store_path),
        )
        batches[str(int(batch_id))] = [n_dl, sum_dl]
        _write_batch_stats(spark, store_path, batches, int(n_buckets))

    return admit


def _read_batch_stats(spark, store_path: str) -> dict:
    """The per-batch entries of a stream-layout postings store (see
    :func:`postings_admitter`): the ``_postings_batches`` sidecar when
    it exists, else seeded from one aggregate over the store, else
    empty for a store with no data yet. Existence is checked first, so
    a new store runs no failing read."""
    import json

    from ..functions.similarity import _read_sidecar_text
    from ..functions.text import _batch_lengths

    sidecar = store_path.rstrip("/") + "/_postings_batches"
    jpath = spark._jvm.org.apache.hadoop.fs.Path(sidecar)
    if jpath.getFileSystem(spark._jsc.hadoopConfiguration()).exists(jpath):
        return json.loads(_read_sidecar_text(spark, sidecar))
    if not _store_has_data(spark, store_path):
        return {}
    return _batch_lengths(spark.read.parquet(store_path))


def postings_ingest(
    stream_df,
    store_path: str,
    checkpoint_dir: str,
    n_buckets: int = 32,
    text: str = "text",
    id_col: str = "doc_id",
    trigger: str | dict | None = None,
    query_name: str | None = None,
):
    """Start the streaming inverted-index ingestion: every
    micro-batch lands its postings replay-idempotently and refreshes
    the stats sidecar; ``bm25_from_store`` probes the live store
    unchanged (term-bucket pruning still applies — `_batch_id` is
    just an extra partition level)."""
    from .sinks import foreach_batch_sink

    return foreach_batch_sink(
        stream_df,
        postings_admitter(
            store_path, n_buckets=n_buckets, text=text, id_col=id_col
        ),
        checkpoint_dir,
        trigger=trigger,
        query_name=query_name,
    )


def compact_postings(
    spark,
    store_path: str,
    compact_id: int = -1,
    keep_last: int = 1,
) -> int:
    """:func:`compact_store` for the streaming INVERTED-INDEX store
    (:func:`postings_ingest`): absorbs old ``_batch_id=<n>`` levels
    into ``_batch_id=<compact_id>`` while PRESERVING the
    ``term_bucket`` partition level — probes keep pruning after
    compaction (the generic compactor would flatten the bucket
    layout and its single-id dedup would collapse a doc's posting
    list to one term). Self-heal dedup key is ``(doc_id, term)``
    (keep the lowest batch). After the rewrite, one aggregate over
    the store grouped by ``_batch_id`` rewrites the admitter's
    per-batch entries (``compact_id`` and each kept batch) and the
    stats totals from them — derived from the store, so re-running
    after any partial failure converges. Same ``keep_last`` and
    stopped-stream rules as :func:`compact_store`. Returns partitions
    absorbed."""
    from pyspark.sql import Window

    from ..functions.text import _batch_lengths, _write_batch_stats

    sc = spark.sparkContext
    jpath = sc._jvm.org.apache.hadoop.fs.Path(store_path)
    fs = jpath.getFileSystem(sc._jsc.hadoopConfiguration())
    if not _store_has_data(spark, store_path):
        return 0
    candidates = sorted(
        (
            st.getPath()
            for st in fs.listStatus(jpath)
            if st.isDirectory()
            and st.getPath().getName().startswith("_batch_id=")
            and st.getPath().getName() != f"_batch_id={int(compact_id)}"
        ),
        key=lambda p: int(p.getName().split("=", 1)[1]),
    )
    old_parts = (
        candidates[: len(candidates) - int(keep_last)]
        if keep_last
        else candidates
    )
    if not old_parts:
        return 0
    keep_ids = [
        int(p.getName().split("=", 1)[1])
        for p in candidates
        if p not in old_parts
    ]
    store = spark.read.parquet(store_path)
    absorb = store.filter(
        ~F.col("_batch_id").isin(keep_ids) if keep_ids else F.lit(True)
    )
    w = Window.partitionBy("doc_id", "term").orderBy(
        F.col("_batch_id").asc()
    )
    deduped = (
        absorb.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_batch_id")
    )
    (
        deduped.withColumn("_batch_id", F.lit(int(compact_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_batch_id", "term_bucket")
        .parquet(store_path)
    )
    for p in old_parts:
        fs.delete(p, True)
    # driver-side sidecar read (r13): the stats file is a <1 KB
    # one-row text dir; a spark.read.text scan cost one scheduled
    # job per compaction
    from ..functions.similarity import _read_sidecar_text

    prev = __import__("json").loads(
        _read_sidecar_text(spark, store_path + "/_postings_stats")
    )
    _write_batch_stats(
        spark,
        store_path,
        _batch_lengths(spark.read.parquet(store_path)),
        int(prev["n_buckets"]),
    )
    return len(old_parts)
