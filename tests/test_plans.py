"""Plan-shape regression tests: the scale-critical physical-plan
properties (SCALING.md) asserted on the real corpus queries, so a
refactor that silently loses predicate pushdown, column pruning,
map-side partial aggregation, or a dimension broadcast fails CI —
not a 1000-executor run.

The reference cannot have any of these (predicates are opaque Clojure
closures, SURVEY §4); they are the payoff of the expression-first
rebuild, so they are pinned here.
"""

from __future__ import annotations

import contextlib
import io

import os

import pytest

from datasplash_spark import queries as Q

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def _q(spark, name: str):
    return Q.queries()[name](spark, SF_DIR)


def test_filter_reaches_parquet_scan(spark):
    """filter_project: the predicate must appear in PushedFilters and
    the scan schema must be pruned to referenced columns only."""
    plan = plan_of(_q(spark, "filter_project"))
    assert "GreaterThanOrEqual(l_discount" in plan  # pushed, not post-filtered
    read = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_comment" not in read and "l_shipinstruct" not in read


def test_aggregation_is_partial_then_final(spark):
    """pricing_summary: map-side combine (partial_sum before the
    Exchange) — the shuffle moves one accumulator per key per
    partition, not raw rows."""
    plan = plan_of(_q(spark, "pricing_summary"))
    assert "partial_sum" in plan
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


def test_dimension_joins_broadcast(spark):
    """join_multiway: small dims must broadcast — no shuffle of the
    fact side for the dim joins."""
    plan = plan_of(_q(spark, "join_multiway"))
    assert "BroadcastHashJoin" in plan


def test_minhash_partial_aggregates(spark):
    """The banded-table build: the 16 min-hash aggs must
    partial-combine before the shuffle (the 7×-faster shape from
    SCALING.md), reading only doc_id+text."""
    from datasplash_spark.functions import dedup as dd
    from datasplash_spark.pipeline import load_table

    banded = dd.lsh_banded(load_table(spark, SF_DIR, "documents"))
    plan = plan_of(banded)
    assert "partial_min" in plan
    read = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read and all("struct<doc_id:bigint,text:string>" in l for l in read)


def test_minhash_pairs_single_signature_computation(spark):
    """dedup_minhash_pairs persists the banded table (cache=True):
    both self-join sides must be InMemoryTableScans of the SAME
    cached relation — the signature pipeline executes once, and no
    signature arithmetic runs outside the cached subtree."""
    plan = plan_of(_q(spark, "dedup_minhash_pairs"), mode="simple")
    lines = plan.splitlines()
    scans = [l for l in lines if "InMemoryTableScan" in l]
    assert len(scans) == 2, plan
    # every signature-arithmetic line sits beneath an InMemoryRelation
    # (i.e. it is the cached definition, not a live recompute)
    rel_depths = [
        _node_depth(l) for l in lines if "InMemoryRelation" in l
    ]
    for l in lines:
        if "partial_min" in l:
            assert any(_node_depth(l) > d for d in rel_depths), l


def test_materialized_banded_join_is_bucketed_scan_only(spark, tmp_path):
    """materialize_banded (the cross-JOB shape): the pairs plan over a
    materialized banded table must contain NO signature arithmetic —
    both self-join sides are scans of the bucketed banded parquet
    (zero Exchange for the join), the pipeline having run exactly
    once at write time."""
    from datasplash_spark.functions import dedup as dd
    from datasplash_spark.pipeline import load_table

    docs = load_table(spark, SF_DIR, "documents")
    pairs = dd.lsh_candidate_pairs(
        docs, num_hashes=16, bands=4, k=3, seed=42,
        materialize_dir=str(tmp_path / "banded"),
    )
    plan = plan_of(pairs, mode="simple")
    assert "conv(" not in plan and "md5" not in plan
    assert "partial_min" not in plan
    scans = [l for l in plan.splitlines() if "FileScan" in l]
    assert len(scans) == 2 and all("Bucketed: true" in l for l in scans)


def _node_depth(line: str) -> int:
    i = 0
    while i < len(line) and line[i] in " :+-|":
        i += 1
    return i


def _broadcast_subtrees(plan: str) -> list[list[str]]:
    """Subtree lines of every BroadcastExchange in a 'simple' plan."""
    lines = plan.splitlines()
    out = []
    for i, line in enumerate(lines):
        if "BroadcastExchange" not in line:
            continue
        d = _node_depth(line)
        sub = []
        for nxt in lines[i + 1:]:
            if _node_depth(nxt) <= d:
                break
            sub.append(nxt)
        out.append(sub)
    return out


def test_ngram_verify_broadcast_direction(spark):
    """ngram_jaccard_verify: the documents table must STREAM, never be
    the broadcast build side (round 1 broadcast the corpus — a driver
    OOM at 100 TB). Any broadcast subtree touching documents must be a
    join-reduced (candidate-scale) result, and at least one documents
    scan must sit outside every broadcast.

    A documents scan BENEATH an InMemoryRelation is the cached narrow
    banded table (doc_id+bucket digests) — that broadcast is the
    planner's stats-based choice for the bucket self-join at this
    tiny scale, not our hint, and it disappears when stats grow; the
    invariant pinned here is about the EXPLICIT hints."""
    plan = plan_of(_q(spark, "ngram_jaccard_verify"), mode="simple")
    doc_marker = "documents.parquet"
    subs = _broadcast_subtrees(plan)
    assert subs, "expected broadcast of the candidate side"
    in_broadcast = set()
    for sub in subs:
        rel_depths = [_node_depth(l) for l in sub if "InMemoryRelation" in l]
        live_doc_lines = [
            l
            for l in sub
            if doc_marker in l
            and not any(_node_depth(l) > d for d in rel_depths)
        ]
        if live_doc_lines:
            assert any("Join" in l for l in sub), (
                "bare documents table on the broadcast build side:\n"
                + "\n".join(sub)
            )
        in_broadcast.update(l for l in sub if doc_marker in l)
    all_doc_scans = [l for l in plan.splitlines() if doc_marker in l]
    assert len(all_doc_scans) > len(in_broadcast), (
        "every documents scan is under a BroadcastExchange"
    )


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Co-located join: two tables bucketed on the same key with the
    same bucket count must sort-merge join with ZERO Exchange nodes —
    the shuffle is paid once at write time (SCALING.md)."""
    from datasplash_spark.sources import write_bucketed

    a = spark.range(0, 1000).selectExpr("id AS k", "id * 2 AS va")
    b = spark.range(0, 1000).selectExpr("id AS k", "id * 3 AS vb")
    write_bucketed(a, "bkt_a", "k", buckets=4, path=str(tmp_path / "a"))
    write_bucketed(b, "bkt_b", "k", buckets=4, path=str(tmp_path / "b"))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # forbid broadcast so the bucketed sort-merge path is exercised
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("bkt_a").join(spark.table("bkt_b"), "k")
        plan = plan_of(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, "bucketed join should not shuffle"
        assert joined.count() == 1000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS bkt_a")
        spark.sql("DROP TABLE IF EXISTS bkt_b")


def test_per_key_topk_window_group_limit(spark):
    """top_per_nation: the rank-<=-k filter must push below the sort
    as WindowGroupLimit (partial map-side + final), so each partition
    keeps only k rows per key before the shuffle — the property that
    makes per-key top-k survive skewed keys at scale."""
    plan = plan_of(_q(spark, "top_per_nation"))
    assert "WindowGroupLimit" in plan
    assert "Partial" in plan or plan.count("WindowGroupLimit") >= 2


#: the Layer-0 relational queries that must stay JVM-side — no
#: BatchEvalPython / ArrowEvalPython / mapInPandas nodes anywhere
#: (object-mode and multimodal queries are the documented
#: exceptions; budget_batches is excluded — its reset-fold is
#: pandas BY DESIGN, an applyInPandas seam like
#: stateful_distinct_types)
_PYTHON_OK = {
    "objectmode_wordcount",  # object mode IS the Python path
    "multimodal_features",  # Arrow-batched by design
    "stateful_distinct_types",  # non-associative state machine
}


def _assert_no_python_nodes(spark, names):
    for name in names:
        assert name not in _PYTHON_OK
        plan = plan_of(_q(spark, name), mode="extended")
        for marker in (
            "BatchEvalPython", "ArrowEvalPython", "MapInPandas",
            "PythonUDF",
        ):
            assert marker not in plan, f"{name} has {marker} in its plan"


#: one representative per plan shape (scan-filter, native-window
#: state, banded dedup, IVF probe pruning, tf-idf chain, as-of
#: union+window, span removal, chat parse): the default-set
#: sibling gating the no-Python property on every shape family the
#: full sweep covers — a regression that introduces Python nodes
#: into the relational layer is systemic (a shared helper) and
#: shows up in whichever of these uses it
_NO_PYTHON_SAMPLE = [
    "filter_project",
    "stateful_running_sum",
    "dedup_minhash_pairs",
    "similarity_ivf",
    "tfidf_top_terms",
    "asof_last_view",
    "remove_repeated_spans",
    "chat_turns",
]


def test_no_python_udf_in_relational_sample(spark):
    """Default-set sibling of the exhaustive sweep below: one
    representative query per plan shape must stay JVM-side."""
    _assert_no_python_nodes(spark, _NO_PYTHON_SAMPLE)


@pytest.mark.slow  # ~23 s of pure plan builds; the property is
# default-gated per plan shape by
# test_no_python_udf_in_relational_sample
def test_no_python_udf_in_relational_corpus(spark):
    """The exhaustive sweep: EVERY Layer-0 relational query must
    stay JVM-side."""
    _assert_no_python_nodes(spark, [
        "filter_project",
        "pricing_summary",
        "stateful_running_sum",  # native window path since round 2
        "join_multiway",
        "cogroup_counts",
        "window_session",
        "dedup_exact",
        "dedup_minhash_pairs",
        "dedup_simhash",
        "similarity_topk",
        "similarity_ivf",
        "doc_quality",
        "lang_id",
        # round-2 additions — all expression-first by construction
        "tfidf_top_terms",
        "gopher_quality",
        "unigram_quality",
        "chunk_documents",
        "funnel",
        "asof_last_view",
        "range_join_error_window",
        "dedup_incremental",
        "dedup_cross_corpus",
        "side_input_filter",
        "frequencies_by",
        "repeated_ngrams",
        "remove_repeated_spans",
        "global_shuffle",
        # round-5 additions
        "importance_resample",
        "ccnet_buckets",
        "collocations",
        "contrastive_pairs",
        "skew_report",
        "cohort_retention",
        "bm25_multi",
        # round-6 additions
        "weighted_sample_det",
        "winnow_fingerprints",
        "bpe_pairs",
        "source_drift",
        "bpe_tokenize",
        "textrank",
        "event_paths",
        "bigram_lm",
        "content_manifest",
        "domain_reweight",
        "quantized_search",
        "edit_verify",
        "mad_outliers",
        # round-6 continuation additions
        "boilerplate_removal",
        "subword_fertility",
        "chat_validate",
        "chat_turns",
        "url_normalize",
        "host_stats",
        "topic_tags",
        "embedding_audit",
        "sentence_chunks",
        "fk_audit",
        "bm25_negatives",
        "length_batches",
        "neighbor_report",
        "sft_tokens",
        "canary_report",
        # budget_batches is EXCLUDED: its reset-fold is pandas BY
        # DESIGN (applyInPandas seam, like stateful_distinct_types)
    ])


def test_running_sum_is_native_window(spark):
    """stateful_running_sum must run as a JVM window aggregate: no
    FlatMapGroupsInPandas / ArrowEvalPython anywhere in the plan
    (round 1 shipped every key's history through pandas)."""
    plan = plan_of(_q(spark, "stateful_running_sum"), mode="simple")
    assert "FlatMapGroupsInPandas" not in plan
    assert "EvalPython" not in plan
    assert "Window" in plan


def test_asof_join_is_window_not_range_join(spark):
    """asof_last_view: one union + one window over the key — no
    inequality-join fallback (BroadcastNestedLoopJoin/Cartesian are
    quadratic and unusable at scale)."""
    plan = plan_of(_q(spark, "asof_last_view"))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Window" in plan


def test_range_join_is_bucketed_equi_join(spark):
    """range_join_error_window: the interval predicate must ride on a
    hash-partitioned equi-join (bucket key), never a nested-loop."""
    plan = plan_of(_q(spark, "range_join_error_window"))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_tfidf_partial_aggregates(spark):
    """tfidf_top_terms: the tf count partial-aggregates map-side and
    the corpus-size single-row aggregate joins as a broadcast."""
    plan = plan_of(_q(spark, "tfidf_top_terms"))
    assert "partial_count" in plan
    assert "BroadcastExchange" in plan


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    """write_partitioned: an equality filter on the partition column
    must land in PartitionFilters (pruned before the scan), not in
    PushedFilters/post-scan Filter."""
    from datasplash_spark.pipeline import load_table
    from datasplash_spark.sources import write_partitioned

    docs = load_table(spark, SF_DIR, "documents")
    out = str(tmp_path / "docs_by_lang")
    write_partitioned(docs, out, partition_by="lang")
    back = spark.read.parquet(out).filter("lang = 'en'")
    plan = plan_of(back)
    pf = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "lang" in pf


def test_char_entropy_is_shuffle_free(spark):
    """char_entropy: one Column expression per row — the per-doc
    entropy must introduce NO Exchange (the explode->groupBy shape
    would shuffle corpus x avg_len rows)."""
    plan = plan_of(_q(spark, "char_entropy"))
    assert "Exchange" not in plan


def test_quality_classifier_broadcasts_weights(spark):
    """quality_classifier: the model-sized weight table must be the
    broadcast side; the token stream must never broadcast; the per-doc
    sum must partial-aggregate before its shuffle."""
    plan = plan_of(_q(spark, "quality_classifier"))
    assert "BroadcastHashJoin" in plan
    assert "partial_count" in plan or "partial_sum" in plan


def test_quota_sample_window_group_limit(spark):
    """quota_sample: the per-key rank filter must run as
    WindowGroupLimit (per-partition pruning of beyond-quota rows
    before the final per-key selection)."""
    plan = plan_of(_q(spark, "quota_sample"))
    assert "WindowGroupLimit" in plan


def test_source_overlap_sets_not_self_join(spark):
    """source_overlap (r13 optimization): NO digest self-join — a
    digest shared by m sources would multiply into m² join rows, so
    the plan must instead reduce each digest to its source SET
    (collect_set aggregate), collapse identical sets to counted rows,
    and expand pairs from that tiny pattern table. The pre-r13 plan
    (distinct → persisted self-join on digest → 20 M intermediate
    rows at sf0.1) is the regression this pins against."""
    plan = plan_of(_q(spark, "source_overlap"))
    assert "Join" not in plan, plan
    assert "collect_set" in plan
    assert "md5" in plan.lower()
    # set-collect + pattern-count + pair-sum aggregates, each
    # partial+final
    assert plan.count("HashAggregate") + plan.count("ObjectHashAggregate") >= 4
    # r14: the exploded digest stream feeds collect_set DIRECTLY —
    # no separate (src, digest).distinct() exchange (collect_set's
    # map-side partial agg dedups). 4 physical exchanges (spread
    # repartition, digest set-collect, pattern count, pair sum), not
    # 5; formatted mode prints each node twice (tree + details)
    assert plan.count("Exchange") == 8, plan
    # pair expansion is a per-row Generate over the set table, never
    # a cartesian/broadcast product
    assert "Generate" in plan and "explode" in plan
    assert "CartesianProduct" not in plan


def test_knn_join_broadcasts_queries_with_group_limit(spark):
    """knn_search: the query set must broadcast (corpus never
    shuffles its vectors for the join) and the per-query top-k must
    run as WindowGroupLimit."""
    plan = plan_of(_q(spark, "knn_search"))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "WindowGroupLimit" in plan


def test_quantile_buckets_no_global_sort(spark):
    """length_quartiles: quantile binning must NOT be a global-order
    window (single-partition ntile) — one cut-point aggregate
    broadcast against one scan."""
    plan = plan_of(_q(spark, "length_quartiles"))
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_remove_repeated_spans_digest_shuffle_and_single_explode(spark):
    """remove_repeated_spans: the occurrence-level window table is
    persisted and BOTH consumers (corpus-wide count, join-back) read
    the cached relation — the tokenize+posexplode pipeline runs once.
    Counting is partial-before-Exchange, and no Python UDF appears
    (the rebuild is nested higher-order functions, JVM-side)."""
    plan = plan_of(_q(spark, "remove_repeated_spans"), mode="simple")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "partial_count" in plan
    lines = plan.splitlines()
    scans = [l for l in lines if "InMemoryTableScan" in l]
    assert len(scans) >= 2, plan
    # the window explode exists only inside the persisted relation
    rel_depths = [_node_depth(l) for l in lines if "InMemoryRelation" in l]
    for l in lines:
        if "posexplode" in l.lower():
            assert rel_depths and any(
                _node_depth(l) > d for d in rel_depths
            ), l


def test_global_shuffle_is_range_partitioned_sort(spark):
    """global_shuffle: a distributed total order — range partitioning
    on the md5 key + within-partition sort; never a single-partition
    Exchange or a window rank."""
    plan = plan_of(_q(spark, "global_shuffle"))
    assert "rangepartitioning" in plan.lower()
    assert "SinglePartition" not in plan
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan


def test_runtime_bloom_filter_on_materialized_digest_join(spark, tmp_path):
    """At 100 TB, digest-store probe joins (decontamination hits,
    cross-corpus candidates) are shuffle joins — and Catalyst's
    InjectRuntimeFilter then ships a bloom filter of the small
    side's keys to the big side's scan, pruning before the shuffle.
    LEFT ANTI admission joins (incremental_new_docs) cannot get
    this by semantics: a bloom's "definitely absent" answer marks
    exactly the rows an anti join must KEEP, so nothing can be
    skipped. Emulated here by lowering the size thresholds the rule
    keys on (local data is below the real 10 GB application-side
    gate)."""
    from pyspark.sql import functions as F

    store_dir = str(tmp_path / "digest_store")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    docs.select(
        "doc_id", F.md5(F.col("text")).alias("digest"), "source"
    ).write.parquet(store_dir)

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # scale: no broadcast
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        store = spark.read.parquet(store_dir)
        batch = (
            spark.read.parquet(store_dir)
            .filter(F.col("source") == "src1")
            .select("digest")
        )
        probed = store.join(batch, "digest")
        plan = probed._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan and "bloom_filter_agg" in plan, plan

        # anti joins keep exactly the bloom-absent rows — no pruning
        # is possible, and none must be claimed
        anti = store.join(batch, "digest", "left_anti")
        plan2 = anti._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" not in plan2
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_cluster_report_single_clustering(spark):
    """dedup_cluster_report materializes the cluster-assignment table
    once: both consumers (per-cluster stats, survivor selection) must
    be InMemoryTableScans of the SAME persisted relation, and no LSH
    signature arithmetic may appear outside it — the clustering
    pipeline executes exactly once for the whole composition."""
    plan = plan_of(_q(spark, "dedup_cluster_report"), mode="simple")
    lines = plan.splitlines()
    scans = [l for l in lines if "InMemoryTableScan" in l]
    assert len(scans) >= 2, plan
    # live plan must hold NO recompute of the signature pipeline:
    # shingle explode / hash-min arithmetic only under InMemoryRelation
    rel_depths = [_node_depth(l) for l in lines if "InMemoryRelation" in l]
    for l in lines:
        if "posexplode" in l or "partial_min" in l:
            assert rel_depths and any(
                _node_depth(l) > d for d in rel_depths
            ), l


def test_corpus_prep_full_single_rebuild(spark):
    """corpus_prep_full (round 10, the ×100 composition): the
    paragraph-REBUILT corpus feeds three consumers (LSH signatures,
    survivor semi-join, decontamination grams) — the composed plan
    must read it from ONE persisted relation, and neither the
    paragraph keep/drop window nor the minhash signature arithmetic
    may appear outside an InMemoryRelation. This is the cross-op
    persist-boundary guarantee the per-op pins can't see."""
    from pyspark.sql import functions as F

    from datasplash_spark.functions.prep import corpus_prep_full
    from datasplash_spark.pipeline import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    out = corpus_prep_full(
        docs.filter(F.col("doc_id") % 10 != 0),
        docs.filter(F.col("doc_id") % 10 == 0),
        total_budget=4000,
        seq_len=128,
    )
    plan = plan_of(out, mode="simple")
    lines = plan.splitlines()
    scans = [l for l in lines if "InMemoryTableScan" in l]
    assert len(scans) >= 3, plan  # three consumers of the rebuild
    rel_depths = [_node_depth(l) for l in lines if "InMemoryRelation" in l]
    assert rel_depths, plan
    for l in lines:
        # posexplode = paragraph/shingle explode; partial_min =
        # hash-min signature aggregation; para_digest = the keep
        # window's key — none may execute outside a cached relation
        if "posexplode" in l or "partial_min(" in l or "para_digest" in l:
            assert any(_node_depth(l) > d for d in rel_depths), l


def test_ivf_store_probe_prunes_partitions(spark, tmp_path):
    """The IVF store probe must reach the scan as a PARTITION filter
    (cell IN probe) — only nprobe directories are read, the literal
    version of ivf_topk's pruning promise."""
    from datasplash_spark.functions import similarity as sim
    from datasplash_spark.sources import generate_input

    vecs = [
        (i, [float(i + 1), float(i % 5), 1.0, 2.0]) for i in range(40)
    ]
    df = generate_input(spark, vecs, "vec_id bigint, embedding array<double>")
    store = str(tmp_path / "ivfstore")
    sim.materialize_ivf(df, store, n_cells=6)
    probe = sim.ivf_topk_from_store(spark, store, [1.0, 0.0, 1.0, 2.0], k=3, nprobe=2)
    plan = plan_of(probe)
    part = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert part and "cell" in part[0], plan
    # the data filter list must NOT carry the cell predicate (it
    # prunes at the directory level, not per row)
    assert "cell IN" not in plan.split("PushedFilters", 1)[-1].split("\n")[0]


def test_lsh_store_probe_prunes_partitions(spark, tmp_path):
    """Multi-probe LSH store scan must prune at the partition level
    (bucket IN probe-set), mirroring the IVF store pin."""
    from datasplash_spark.functions import similarity as sim
    from datasplash_spark.sources import generate_input

    vecs = [(i, [float(i + 1), float(i % 4) - 1.5, 0.5, 1.0]) for i in range(40)]
    df = generate_input(spark, vecs, "vec_id bigint, embedding array<double>")
    store = str(tmp_path / "lshstore")
    sim.materialize_lsh(df, store, bits=4)
    probe = sim.lsh_topk_from_store(
        spark, store, [1.0, -0.5, 0.5, 1.0], k=3, bits=4, nprobe=3
    )
    plan = plan_of(probe)
    part = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert part and "bucket" in part[0], plan


def test_semantic_dedup_single_assignment_no_python(spark):
    """semantic_dedup(cache=True): the centroid-assignment/scored
    table computes ONCE — the live plan reads it back as an
    InMemoryTableScan and every vector-math expression (zip_with
    folds) sits strictly inside the InMemoryRelation; the CC label
    join is broadcast; no Python UDF anywhere."""
    plan = plan_of(_q(spark, "semantic_dedup"), mode="simple")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    lines = plan.splitlines()
    assert any("InMemoryTableScan" in l for l in lines), plan
    assert "BroadcastHashJoin" in plan, plan
    rel_depths = [_node_depth(l) for l in lines if "InMemoryRelation" in l]
    for l in lines:
        if "zip_with" in l:
            assert rel_depths and any(
                _node_depth(l) > d for d in rel_depths
            ), l


def test_zorder_layout_is_range_partitioned(spark):
    """zorder_layout: the write-side layout is a RangePartitioning
    exchange + in-partition sort on the z-key (TeraSort shape), with
    no window and no Python; the key stage itself adds no shuffle
    beyond the single cut-point aggregate."""
    from datasplash_spark.operators import zorder_layout
    from datasplash_spark.pipeline import load_table

    ev = load_table(spark, SF_DIR, "events").select(
        "event_id", "user_id", "value"
    )
    plan = plan_of(
        zorder_layout(ev, ["value", "user_id"], 8, bits=4, approx=False),
        mode="simple",
    )
    assert "rangepartitioning(zkey" in plan.lower(), plan
    assert "Window" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_rows_only_marker_consistent():
    """The by-design rows-only marker must name exactly the registry
    entries that carry no oracle, and each rationale must point at a
    fully-oracled deterministic twin (or exact-twin queries) that
    exists in the registry."""
    no_oracle = {
        name for name, (_, sql) in Q.REGISTRY.items() if sql is None
    }
    assert set(Q.rows_only()) == no_oracle
    oracled = set(Q.oracle_sql())
    twins = {
        "sample_global": ["sample_global_det"],
        "sample_per_key": ["sample_per_key_det"],
        "approx_aggs": ["profile", "price_percentiles"],
    }
    for name, reason in Q.rows_only().items():
        for twin in twins[name]:
            assert twin in oracled, (name, twin)
            assert twin in reason, (name, twin)


def test_weighted_sampling_plan_shapes(spark):
    """Round-5 sampling ops keep their no-total-sort shapes:
    weighted_sample is a TakeOrderedAndProject (per-partition heap,
    never a global sort); importance_resample is one aggregate
    broadcast back (no shuffle of the data rows); per-key quantile
    buckets broadcast the per-key cut table and use no Window."""
    from datasplash_spark.operators import (
        importance_resample,
        quantile_buckets_per_key,
        weighted_sample,
    )
    from datasplash_spark.pipeline import load_table

    docs = load_table(spark, SF_DIR, "documents")

    plan = plan_of(weighted_sample(docs, 10, "n_chars", "doc_id"))
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan  # no global sort stage

    plan = plan_of(
        weighted_sample(docs, 2, "n_chars", "doc_id", key="source")
    )
    assert "WindowGroupLimit" in plan  # per-key rank prunes pre-shuffle

    plan = plan_of(importance_resample(docs, 50, "n_chars", "doc_id"), "simple")
    # single-row total broadcast: nested-loop broadcast join, and the
    # only shuffle Exchange is the Σw aggregate's own (SinglePartition)
    assert "BroadcastNestedLoopJoin" in plan
    shuffles = [
        l
        for l in plan.splitlines()
        if "Exchange" in l and "BroadcastExchange" not in l
    ]
    assert len(shuffles) <= 1, plan

    plan = plan_of(quantile_buckets_per_key(docs, "n_chars", 3, "source"))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    assert "Window" not in plan


def test_plan_guard_api(spark):
    """plan_guard: passes clean plans through unchanged, names the
    forbidden node with an excerpt, enforces required markers."""
    import pytest

    from datasplash_spark.plans import PlanGuardError, plan_guard
    from datasplash_spark.pipeline import load_table

    docs = load_table(spark, SF_DIR, "documents")
    clean = docs.filter("n_chars > 10").select("doc_id")
    assert plan_guard(clean) is clean

    # forbidden: a genuine cartesian product (kill broadcast so the
    # tiny table can't take the BroadcastNestedLoopJoin shape)
    from pyspark.sql import functions as F

    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        big_cross = docs.crossJoin(
            docs.select(F.col("doc_id").alias("d2"))
        )
        with pytest.raises(PlanGuardError, match="CartesianProduct"):
            plan_guard(big_cross)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)

    # forbidden: row-at-a-time Python in the hot path
    from pyspark.sql.functions import udf

    slow = docs.select(udf(lambda s: s and s.upper())("text"))
    with pytest.raises(PlanGuardError, match="BatchEvalPython"):
        plan_guard(slow)

    # require: pushdown marker must be present
    plan_guard(clean, require=("PushedFilters",))
    with pytest.raises(PlanGuardError, match="NoSuchMarker"):
        plan_guard(clean, require=("NoSuchMarker",))


def test_quantized_search_is_take_ordered(spark):
    """quantized_search: the top-k must be TakeOrderedAndProject
    (per-partition heap + driver merge), never a global Sort; the
    query codes broadcast; no Python anywhere."""
    plan = plan_of(_q(spark, "quantized_search"), mode="simple")
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_winnow_fingerprints_linear_shape(spark):
    """winnow_fingerprints: running-min Window over the posexploded
    hash table — exactly ONE Window-producing shuffle on doc_id and
    NO per-index array recompute (the O(n²) lambda-inlining trap:
    md5 must appear in the plan's generator input, not inside a
    window frame expression)."""
    plan = plan_of(_q(spark, "winnow_fingerprints"), mode="simple")
    assert "Window" in plan, plan
    assert "Generate" in plan, plan  # posexplode, evaluated once per row
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_mad_outliers_no_sort_no_window(spark):
    """mad_outliers: two single-row percentile aggregates broadcast
    back — the data itself is never sorted or windowed."""
    plan = plan_of(_q(spark, "mad_outliers"), mode="simple")
    assert "Window" not in plan, plan
    assert plan.count("BroadcastExchange") >= 2, plan
    assert "Sort " not in plan.replace("SortAggregate", ""), plan


def test_textrank_no_cartesian(spark):
    """textrank: 5 PageRank iterations stay hash joins on node/src —
    no cartesian product, no Python."""
    plan = plan_of(_q(spark, "textrank"), mode="simple")
    assert "CartesianProduct" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bpe_apply_vocab_sized_fold(spark):
    """bpe_tokenize: the merge-fold chain runs on the DISTINCT token
    vocab (an Aggregate feeds the fold), and occurrences map back by
    join — the fold never runs per corpus token."""
    plan = plan_of(_q(spark, "bpe_tokenize"), mode="simple")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the join that maps occurrences to their segmentation
    assert "Join" in plan, plan


def test_pagerank_checkpoints_loop_invariants(spark):
    """pagerank: the degree-annotated edge list is computed ONCE
    (lazy local checkpoint) — each iteration reads it as a
    checkpoint scan (exactly one per iteration), and the raw edge
    subtree never appears in the loop plan at all (VERDICT r6: the
    un-checkpointed form re-derived the edges every iteration — 5
    redundant corpus passes at 100 TB)."""
    from pyspark.sql import functions as F

    from datasplash_spark.functions import text as tx
    from datasplash_spark.functions.graph import pagerank
    from datasplash_spark.pipeline import load_table

    docs = load_table(spark, SF_DIR, "documents")
    edges = tx.bigram_counts(docs, min_count=5).select(
        F.col("ta").alias("a"), F.col("tb").alias("b")
    )
    pr = pagerank(edges, iterations=3)
    plan = plan_of(pr, mode="simple")
    # the only leaves are the two checkpointed invariants: the
    # (src, dst, deg) edge list — one scan per iteration — and the
    # node set (one per iteration's left join + the initial scores)
    ed_scans = [
        l for l in plan.splitlines() if "Scan ExistingRDD" in l and "deg" in l
    ]
    assert len(ed_scans) == 3, plan
    assert "Scan parquet" not in plan, plan
    assert "InMemoryTableScan" not in plan, plan


def test_script_profile_is_shuffle_free(spark):
    """script_mix: per-row regex counting — NO Exchange, no Python."""
    plan = plan_of(_q(spark, "script_mix"), mode="simple")
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_cdc_chunks_single_generate_no_shuffle(spark):
    """cdc_chunks: pure array expressions + ONE posexplode — no
    Python, exactly one Generate, and the ONLY allowed Exchange is
    the scale-adaptive pre-spread of the raw scan (r13: the rolling-
    hash map side is per-row-heavy, so a narrower-than-parallelism
    scan repartitions BEFORE the kernel; chunk rows themselves never
    shuffle)."""
    plan = plan_of(_q(spark, "cdc_chunks"), mode="simple")
    exchanges = [
        ln for ln in plan.splitlines() if "Exchange" in ln
    ]
    assert len(exchanges) <= 1, plan
    for ln in exchanges:
        # the pre-spread partitions raw input rows by doc id — any
        # exchange AFTER the Generate would show chunk columns here
        assert "doc_id" in ln, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("Generate") == 1, plan


def test_ngram_novelty_digest_shuffle_partial_agg(spark):
    """ngram_novelty: grams shuffle on the 16-byte md5 digest (never
    the gram text) and both aggregates partial-aggregate map-side."""
    plan = plan_of(_q(spark, "ngram_novelty"), mode="simple")
    assert "partial_count" in plan or "partial_min" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the gram string itself must not survive past the md5 projection
    # into any exchange (shuffle width discipline)
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "_g" not in line, line


def test_hybrid_search_windows_are_bounded(spark):
    """hybrid_search: the two global rank windows run over top-100
    TakeOrdered results, never the corpus — the plan must bound each
    window input with a limit/TakeOrdered below it."""
    plan = plan_of(_q(spark, "hybrid_search"), mode="simple")
    assert "TakeOrderedAndProject" in plan, plan
    lines = plan.splitlines()
    win_depths = [
        _node_depth(l) for l in lines if l.lstrip(" :+-*(0123456789)").startswith("Window")
    ]
    assert win_depths, plan
    # beneath every Window there is a limit stage before any scan
    for i, l in enumerate(lines):
        if "Window" in l and "WindowGroupLimit" not in l:
            d = _node_depth(l)
            sub = []
            for m in lines[i + 1 :]:
                if _node_depth(m) <= d and m.strip():
                    break
                sub.append(m)
            assert any(
                "TakeOrdered" in s or "GlobalLimit" in s or "Limit" in s
                for s in sub
            ), "\n".join([l] + sub)


def test_edit_verify_length_prefilter_before_levenshtein(spark):
    """edit_verify: the length-gap prefilter must sit in the join
    filter stage so the levenshtein projection only sees surviving
    pairs."""
    plan = plan_of(_q(spark, "edit_verify"), mode="simple")
    assert "levenshtein" in plan, plan
    # the abs(length-length) gap predicate exists as a Filter
    assert "abs(" in plan and "length(" in plan, plan


def test_gate_order_is_stalest_first(tmp_path):
    """The registry order is derived from the CORRECTNESS_rNN.json
    artifacts: never driver-gated queries first, then stalest-first by
    newest driver-green round, ties in ``_ALL`` order. Derivation never
    raises on missing, malformed or foreign artifact files."""
    import json

    from datasplash_spark import queries as Q

    def write(rnd, rows):
        (tmp_path / f"CORRECTNESS_r{rnd:02d}.json").write_text(
            json.dumps(rows)
        )

    green = {"rows_match": True, "schema_match": True, "hash_match": True}
    red = {**green, "hash_match": False}
    names = ["a", "b", "c", "d", "e", "new"]

    # no artifacts: nothing is gated, _ALL order stands
    assert Q._latest_driver_rows(str(tmp_path)) == ([], {})
    assert Q._gate_order(names, str(tmp_path)) == names

    write(1, {"a": green, "b": green, "c": green, "d": green, "e": green})
    # the {"queries": {...}} wrapper is read too; a no_oracle row whose
    # Spark run succeeded counts as green
    write(2, {"queries": {
        "b": green, "e": {"err": "no_oracle", "spark_rows": 3},
    }})
    # a red row does not refresh staleness: c stays at r1
    write(3, {"c": red, "d": green})
    # skipped without raising: malformed JSON, a non-dict payload,
    # a non-dict "queries" value and a non-matching file name
    (tmp_path / "CORRECTNESS_r04.json").write_text("{not json")
    (tmp_path / "CORRECTNESS_r05.json").write_text("[1, 2]")
    write(6, {"queries": [1]})
    (tmp_path / "CORRECTNESS_r07_c8.json").write_text(json.dumps({"a": green}))

    rounds, latest = Q._latest_driver_rows(str(tmp_path))
    assert rounds == [1, 2, 3]
    assert latest == {"a": 1, "b": 2, "c": 1, "d": 3, "e": 2}
    assert Q._gate_order(names, str(tmp_path)) == [
        "new", "a", "c", "b", "e", "d",
    ]

    # the live registry: the first _DRIVER_WINDOW entries are the
    # stalest, never-gated ones leading
    _, latest = Q._latest_driver_rows()
    head = Q._ORDER[: Q._DRIVER_WINDOW]
    tail = Q._ORDER[Q._DRIVER_WINDOW:]
    age = [latest.get(q, -1) for q in Q._ORDER]
    assert age == sorted(age)
    assert max(latest.get(q, -1) for q in head) <= min(
        latest.get(q, -1) for q in tail
    )
    assert list(Q.REGISTRY) == Q._ORDER and set(Q.REGISTRY) == set(Q._ALL)


def test_registry_headroom():
    """Round-12 headroom policy (VERDICT r11 item 4, superseding the
    round-10 zero-sum rule): the driver declined to grow the 50-row
    gate window, so the registry adopts the alternating-windows
    design (backstop 8) — at 50 gated rows per round the derived
    steady-state maximum rises from 156 to 356 with the 6-query
    equal-staleness carryover. Promotions no longer require a
    one-for-one retirement below the cap (strict-subset retirements
    remain good hygiene). This test is the forcing function: growth
    past the cap fails here at commit time, not at the rotation
    invariant rounds later."""
    from datasplash_spark import queries as Q

    # derived, not hand-kept: a query ages one round per window it
    # sits out, so with W gated per round and a B-round backstop the
    # registry sustains W*(B-1) queries plus a small equal-staleness
    # carryover tail (6 chosen in round 10). The backstop is the
    # lever (round 12: 4 -> 8, the alternating-windows design); the
    # cap moves with it automatically.
    cap = Q._DRIVER_WINDOW * (Q._MAX_STALENESS - 1) + 6
    assert len(Q._ORDER) <= cap, (
        f"gated registry has {len(Q._ORDER)} queries > cap {cap}: "
        "retire or merge a gated row before promoting (see the "
        "round-10 headroom policy in the gate-order comment)"
    )


def test_paragraph_dedup_digest_shuffle_only(spark):
    """paragraph_dedup: the keep/drop decision shuffles 16-byte md5
    digests, never paragraph text — the Window partitions by
    para_digest, the paragraph string is gone before any Exchange,
    and the whole query is exactly two shuffles (digest window +
    doc_id aggregate)."""
    plan = plan_of(_q(spark, "paragraph_dedup"), mode="simple")
    assert "md5" in plan and "Window" in plan, plan
    assert plan.count("Exchange") == 2, plan
    # the digest exchange keys on para_digest, not the text
    exch = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert any("para_digest" in l for l in exch), exch
    assert "_para" not in "".join(exch), exch


def test_readability_is_shuffle_free(spark):
    """readability: pure regexp projection — one scan stage, no
    Exchange, no Python (JVM regexp only)."""
    plan = plan_of(_q(spark, "readability"), mode="simple")
    assert "Exchange" not in plan, plan
    assert "regexp_extract_all" in plan, plan
    assert "Python" not in plan and "ArrowEval" not in plan, plan


def test_html_extract_is_shuffle_free(spark):
    """html_extract (promoted r9): pure JVM regexp projection over
    the synthesized page — one scan stage, no Exchange, no Python."""
    plan = plan_of(_q(spark, "html_extract"), mode="simple")
    assert "Exchange" not in plan, plan
    assert "regexp_replace" in plan, plan
    assert "Python" not in plan and "ArrowEval" not in plan, plan
    assert "MapInPandas" not in plan, plan


def test_image_neardup_clusters_plan_shape(spark):
    """image_neardup_clusters (staged for r10): the multimodal dedup
    composition keeps its scale posture. At toy scale the CC stage
    collapses to a driver union-find LocalTableScan (threshold-gated
    by design — it escalates to distributed hash-min past
    DRIVER_CC_MAX_EDGES), so the pinnable subtree is the PAIR stage:
    codec runs once (two MapInPandas: synth + decode, no third),
    image BYTES never appear in any Exchange (only 64-bit signatures
    and band/slice ints move), and the pair join is the banded
    bucket join, never a cartesian product."""
    from datasplash_spark.functions import dedup as dd
    from datasplash_spark.functions import multimodal as mm

    docs = Q._t(spark, SF_DIR, "documents")
    media = mm.synthesize_image_from_text(docs, fmt="pngL", size=(8, 8))
    sigs = mm.image_ahash(media).select(
        "doc_id", dd.bitstring64_to_long("ahash").alias("sig")
    )
    pairs = dd.hamming_band_pairs(sigs, "sig", max_hamming=10, cache=True)
    plan = plan_of(pairs, mode="simple")
    # cache=True: both self-join sides read the SAME persisted banded
    # table (two InMemoryTableScans), so the codec pipeline executes
    # once; explain() prints the cached definition under each scan,
    # hence 2 MapInPandas per side in the TEXT
    assert plan.count("InMemoryTableScan") == 2, plan
    assert plan.count("MapInPandas") == 4, plan
    exch = [l for l in plan.splitlines() if "Exchange" in l]
    assert exch and all("media" not in l for l in exch), exch
    assert "CartesianProduct" not in plan, plan
    # the full query stays cartesian-free end to end
    full = plan_of(Q.q_image_neardup_clusters(spark, SF_DIR), mode="simple")
    assert "CartesianProduct" not in full, full


def test_image_queries_codec_stage_shape(spark):
    """image_formats / image_ahash (registry-retired in round 11,
    functions still shipped): the codec stages are sanctioned
    mapInPandas batch kernels; bytes never shuffle AFTER synthesis —
    image_formats' only Exchange is the deliberate pre-codec
    parallelism widening on (doc_id, text), and image_ahash has no
    Exchange at all."""
    plan = plan_of(Q.q_image_formats(spark, SF_DIR), mode="simple")
    assert plan.count("MapInPandas") == 2, plan  # synth + decode
    exch = [l for l in plan.splitlines() if "Exchange" in l]
    assert len(exch) == 1 and "media" not in exch[0], exch
    plan2 = plan_of(Q.q_image_ahash(spark, SF_DIR), mode="simple")
    assert plan2.count("MapInPandas") == 2, plan2
    assert "Exchange" not in plan2, plan2


def test_web_ingest_payload_never_shuffles(spark, tmp_path):
    """web_ingest_prep (round 11): raw crawl bytes are consumed in
    the binaryFile scan stage — records parse and HTML extracts
    before the first Exchange, so no Exchange row may reference the
    payload or html columns; the robots side joins as a
    BroadcastExchange (URLs never move for the gate decision)."""
    from datasplash_spark.functions import prep as pp
    from datasplash_spark.sources import archives as ar

    df = spark.createDataFrame(
        [
            (i % 2, "https://h0.example.com/doc/%d" % i,
             ("<html><body><p>%s</p></body></html>"
              % (" ".join("w%d" % j for j in range(20)))).encode())
            for i in range(6)
        ],
        "shard_id int, target_uri string, payload binary",
    )
    out = str(tmp_path / "warc")
    ar.write_warc_shards(df, out).collect()
    robots = spark.createDataFrame(
        [("h0.example.com", "User-agent: *\nDisallow: /private/\n")],
        "host string, robots_txt string",
    )
    surv = pp.web_ingest_prep(
        spark, out + "/*.warc.gz", robots, persist=False
    )
    plan = plan_of(surv, mode="simple")
    exch = [l for l in plan.splitlines() if "Exchange" in l]
    assert exch, "expected shuffles downstream of extraction"
    for line in exch:
        assert "payload" not in line and "html" not in line, line
    assert "BroadcastExchange" in plan, "robots side must broadcast"


def test_web_ingest_extraction_scan_runs_once(spark, tmp_path):
    """web_ingest_prep: the quality-gated page table (the WARC parse
    + HTML extraction scan) feeds TWO consumers — the paragraph
    rebuild and the url join-back — so the composed plan must read
    it from one persisted relation; without the persist the crawl
    re-parses per consumer (the dominant cost at scale)."""
    from datasplash_spark.functions import prep as pp
    from datasplash_spark.sources import archives as ar

    df = spark.createDataFrame(
        [
            (0, "https://h0.example.com/doc/%d" % i,
             ("<html><body><p>%s</p></body></html>"
              % (" ".join("w%d" % j for j in range(20)))).encode())
            for i in range(4)
        ],
        "shard_id int, target_uri string, payload binary",
    )
    out = str(tmp_path / "warc")
    ar.write_warc_shards(df, out).collect()
    robots = spark.createDataFrame(
        [("h0.example.com", "User-agent: *\nDisallow: /private/\n")],
        "host string, robots_txt string",
    )
    surv = pp.web_ingest_prep(spark, out + "/*.warc.gz", robots)
    plan = plan_of(surv, mode="simple")
    assert "InMemoryTableScan" in plan, plan
    # the extraction kernel (a MapInPandas over the binaryFile scan)
    # must appear only inside the cached relation's build subtree —
    # i.e. strictly below an InMemoryRelation line
    lines = plan.splitlines()
    rel_depths = [_node_depth(l) for l in lines if "InMemoryRelation" in l]
    assert rel_depths, plan
    for l in lines:
        if "MapInPandas" in l:
            assert any(_node_depth(l) > d for d in rel_depths), l
    spark.catalog.clearCache()


def test_markdown_extract_bytes_never_shuffle(spark):
    """markdown_extract (gated round 12): ONE Exchange, and it is
    the explicit doc_id repartition of the raw (doc_id, text) scan —
    the synthesized document bytes and extracted text live entirely
    above it (writer + reader kernels fuse into the same post-shuffle
    stage), the scan is pruned to two columns, and the md5 runs
    JVM-side in the final Project."""
    plan = plan_of(_q(spark, "markdown_extract"), mode="simple")
    assert plan.count("Exchange") == 1, plan
    # kernels sit ABOVE the exchange in the printed tree = they
    # execute after it; source_md exists only post-shuffle
    assert plan.index("MapInPandas") < plan.index("Exchange"), plan
    exch = [l for l in plan.splitlines() if "Exchange" in l]
    assert "source_md" not in "".join(exch), exch
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan, plan
    assert "md5" in plan.split("MapInPandas")[0], plan


def test_doctext_sweep_bytes_never_shuffle(spark):
    """doctext_sweep (gated round 12): same contract as every codec
    family — one Exchange (the raw-text repartition), the 8-family
    synthesizer and the universal router fused post-shuffle, media
    bytes never crossing it, two-column pruned scan."""
    plan = plan_of(_q(spark, "doctext_sweep"), mode="simple")
    assert plan.count("Exchange") == 1, plan
    assert plan.index("MapInPandas") < plan.index("Exchange"), plan
    exch = [l for l in plan.splitlines() if "Exchange" in l]
    assert "media" not in "".join(exch), exch
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan, plan


def test_wikitext_extract_bytes_never_shuffle(spark):
    """wikitext_extract (gated round 12): the codec-family contract —
    one Exchange (the raw two-column repartition), writer + reader
    kernels fused post-shuffle, article bytes never crossing it."""
    plan = plan_of(_q(spark, "wikitext_extract"), mode="simple")
    assert plan.count("Exchange") == 1, plan
    assert plan.index("MapInPandas") < plan.index("Exchange"), plan
    exch = [l for l in plan.splitlines() if "Exchange" in l]
    assert "source_wiki" not in "".join(exch), exch
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan, plan


def test_subtitles_extract_bytes_never_shuffle(spark):
    """subtitles_extract (gated round 12): the codec-family contract
    — one Exchange (the raw two-column repartition), writer + reader
    kernels fused post-shuffle, transcript bytes never crossing it."""
    plan = plan_of(_q(spark, "subtitles_extract"), mode="simple")
    assert plan.count("Exchange") == 1, plan
    assert plan.index("MapInPandas") < plan.index("Exchange"), plan
    exch = [l for l in plan.splitlines() if "Exchange" in l]
    assert "media" not in "".join(exch), exch
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan, plan


def test_code_extract_bytes_never_shuffle(spark):
    """code_extract (gated round 13): the codec-family contract —
    one Exchange (the raw two-column repartition), the module
    synthesizer + the line-stat scanner fused post-shuffle, source
    bytes never crossing it, two-column pruned scan, md5 JVM-side."""
    plan = plan_of(_q(spark, "code_extract"), mode="simple")
    assert plan.count("Exchange") == 1, plan
    assert plan.index("MapInPandas") < plan.index("Exchange"), plan
    exch = [l for l in plan.splitlines() if "Exchange" in l]
    assert "source_code" not in "".join(exch), exch
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan, plan
    assert "md5" in plan.split("MapInPandas")[0], plan


def test_tabular_extract_bytes_never_shuffle(spark):
    """tabular_extract (gated round 13): the codec-family contract —
    one Exchange (the raw two-column repartition), the CSV/JSONL
    writers + quote-aware readers fused post-shuffle, media bytes
    never crossing it."""
    plan = plan_of(_q(spark, "tabular_extract"), mode="simple")
    assert plan.count("Exchange") == 1, plan
    assert plan.index("MapInPandas") < plan.index("Exchange"), plan
    exch = [l for l in plan.splitlines() if "Exchange" in l]
    assert "media" not in "".join(exch), exch
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan, plan


def test_av_transcript_pairs_bytes_never_shuffle(spark):
    """av_transcript_pairs (gated round 13): the codec-family
    contract — one Exchange (the raw two-column repartition), tar
    synthesis + member split + in-shard pairing + mp4 parse +
    transcript extraction all fused post-shuffle, shard/member
    bytes never crossing it (pairing happens inside the shard task,
    NOT via a tar_samples pivot)."""
    plan = plan_of(_q(spark, "av_transcript_pairs"), mode="simple")
    assert plan.count("Exchange") == 1, plan
    assert plan.index("MapInPandas") < plan.index("Exchange"), plan
    exch = "".join(l for l in plan.splitlines() if "Exchange" in l)
    # the one exchange carries only the doc_id hash partitioning —
    # no tar/member binary column rides it
    assert "hashpartitioning(doc_id" in exch and "data" not in exch, exch
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan, plan
    assert "md5" in plan.split("MapInPandas")[0], plan


def test_parquet_extract_bytes_never_shuffle(spark):
    """parquet_extract (gated round 13): the codec-family contract —
    one Exchange (the raw two-column repartition), the pyarrow
    writer + reader fused post-shuffle, parquet bytes never
    crossing it."""
    plan = plan_of(_q(spark, "parquet_extract"), mode="simple")
    assert plan.count("Exchange") == 1, plan
    assert plan.index("MapInPandas") < plan.index("Exchange"), plan
    exch = [l for l in plan.splitlines() if "Exchange" in l]
    assert "media" not in "".join(exch), exch
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan, plan


def test_compressed_extract_bytes_never_shuffle(spark):
    """compressed_extract (gated round 13): the codec-family
    contract — one Exchange, the four inner writers + compressors +
    the router's decompression front fused post-shuffle, compressed
    bytes never crossing it."""
    plan = plan_of(_q(spark, "compressed_extract"), mode="simple")
    assert plan.count("Exchange") == 1, plan
    assert plan.index("MapInPandas") < plan.index("Exchange"), plan
    exch = [l for l in plan.splitlines() if "Exchange" in l]
    assert "media" not in "".join(exch), exch
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan, plan


def test_notebook_extract_bytes_never_shuffle(spark):
    """notebook_extract (gated round 13): the codec-family contract —
    one Exchange (the raw two-column repartition), the nbformat
    writer + cell walk fused post-shuffle, notebook bytes never
    crossing it."""
    plan = plan_of(_q(spark, "notebook_extract"), mode="simple")
    assert plan.count("Exchange") == 1, plan
    assert plan.index("MapInPandas") < plan.index("Exchange"), plan
    exch = [l for l in plan.splitlines() if "Exchange" in l]
    assert "media" not in "".join(exch), exch
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan, plan


def test_email_extract_bytes_never_shuffle(spark):
    """email_extract (gated round 13): the codec-family contract —
    one Exchange (the raw two-column repartition), the MIME writer
    + mail walk fused post-shuffle, message bytes never crossing
    it."""
    plan = plan_of(_q(spark, "email_extract"), mode="simple")
    assert plan.count("Exchange") == 1, plan
    assert plan.index("MapInPandas") < plan.index("Exchange"), plan
    exch = [l for l in plan.splitlines() if "Exchange" in l]
    assert "media" not in "".join(exch), exch
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan, plan


def test_charset_extract_bytes_never_shuffle(spark):
    """charset_extract (gated round 13): the codec-family contract —
    one Exchange (the raw two-column repartition), the encoding
    writer + transport decode + inner extract fused post-shuffle,
    payload bytes never crossing it."""
    plan = plan_of(_q(spark, "charset_extract"), mode="simple")
    assert plan.count("Exchange") == 1, plan
    assert plan.index("MapInPandas") < plan.index("Exchange"), plan
    exch = [l for l in plan.splitlines() if "Exchange" in l]
    assert "media" not in "".join(exch), exch
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan, plan


def test_router_report_partial_agg_no_media_shuffle(spark):
    """router_report (gated round 13): the aggregation-shaped gate
    over the router — a map-side partial count/sum must run BEFORE
    the kind-keyed Exchange (only tiny (kind, counts) rows cross),
    the first Exchange stays the raw two-column repartition, and
    media bytes cross neither."""
    plan = plan_of(_q(spark, "router_report"), mode="simple")
    assert plan.count("Exchange") == 2, plan
    assert "partial_count" in plan and "partial_sum" in plan, plan
    # the tree prints downstream-first: the partial aggregate
    # (upstream of the kind Exchange) must appear BELOW it
    kind_exch = plan.index("Exchange hashpartitioning(kind")
    assert plan.index("partial_count") > kind_exch, plan
    exch = [l for l in plan.splitlines() if "Exchange" in l]
    assert "media" not in "".join(exch), exch
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan, plan


def test_ics_extract_bytes_never_shuffle(spark):
    """ics_extract (gated round 13): the codec-family contract —
    one Exchange (the raw two-column repartition), the calendar
    writer + envelope walk fused post-shuffle, calendar bytes never
    crossing it."""
    plan = plan_of(_q(spark, "ics_extract"), mode="simple")
    assert plan.count("Exchange") == 1, plan
    assert plan.index("MapInPandas") < plan.index("Exchange"), plan
    exch = [l for l in plan.splitlines() if "Exchange" in l]
    assert "media" not in "".join(exch), exch
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan, plan


def test_feed_extract_bytes_never_shuffle(spark):
    """feed_extract (gated round 13): the codec-family contract —
    one Exchange (the raw two-column repartition), the feed writer
    + grammar walk fused post-shuffle, feed bytes never crossing
    it."""
    plan = plan_of(_q(spark, "feed_extract"), mode="simple")
    assert plan.count("Exchange") == 1, plan
    assert plan.index("MapInPandas") < plan.index("Exchange"), plan
    exch = [l for l in plan.splitlines() if "Exchange" in l]
    assert "media" not in "".join(exch), exch
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan, plan


def test_log_extract_bytes_never_shuffle(spark):
    """log_extract (gated round 13): the codec-family contract —
    one Exchange (the raw two-column repartition), the log writer +
    header/continuation scanner fused post-shuffle, log bytes never
    crossing it."""
    plan = plan_of(_q(spark, "log_extract"), mode="simple")
    assert plan.count("Exchange") == 1, plan
    assert plan.index("MapInPandas") < plan.index("Exchange"), plan
    exch = [l for l in plan.splitlines() if "Exchange" in l]
    assert "media" not in "".join(exch), exch
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan, plan


def test_make_session_caps_codegen_method_size(spark):
    """make_session (which builds the test session) aligns whole-stage
    codegen's fallback with HotSpot's 8000-byte JIT limit; Spark's own
    default (65535) would leave oversized fused stages interpreted."""
    assert spark.conf.get("spark.sql.codegen.hugeMethodLimit") == "8000"


def _codegen_compiles(spark) -> int:
    """Generated classes compiled so far in this JVM (one per
    class-cache miss)."""
    return (
        spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME().getCount()
    )


def test_make_session_keeps_repeated_plans_compiled(spark):
    """make_session sizes Spark's codegen class cache (an LRU of 100
    classes by default) above a long-lived session's working set: 150
    distinct projections run twice, and the second pass finds their
    classes still compiled. At Spark's default the first pass evicts
    each class before its reuse and the second pass recompiles all."""
    from pyspark.sql import functions as F

    def one_pass() -> int:
        before = _codegen_compiles(spark)
        for i in range(150):
            spark.range(4).select(F.col("id") * F.lit(i + 1000)).collect()
        return _codegen_compiles(spark) - before

    first = one_pass()
    assert first >= 150, first
    second = one_pass()
    assert second <= 5, (first, second)


def test_make_session_reuses_classes_across_stage_ids(spark):
    """A stage's generated class does not carry its codegen stage id:
    swapping a union's sides renumbers its two stages, and the swapped
    query compiles nothing. With the id in the class name (Spark's
    default) both stages compile again."""
    from pyspark.sql import functions as F

    def side(m):
        return spark.range(6).select((F.col("id") * m + 7).alias("v"))

    def compiles(df) -> int:
        before = _codegen_compiles(spark)
        df.collect()
        return _codegen_compiles(spark) - before

    assert compiles(side(31).union(side(37))) > 0
    assert compiles(side(37).union(side(31))) == 0


def _driver_table_frames(spark, tmp_path):
    """The public frames whose plans carry a driver-built table: the
    salt widths of contrastive_pairs, the query terms and probes of
    the three BM25 entry points and the weights
    train_linear_classifier returns. (ivf_knn_join's centroids are a
    literal inside its probe expression, not a table.) Inputs are
    parquet scans, so any ``LogicalRDD`` in a plan is a driver table
    shipped through Python workers."""
    from pyspark.sql import functions as F

    from datasplash_spark.functions import similarity as sim
    from datasplash_spark.functions import text as tx
    from datasplash_spark.pipeline import load_table

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    emb = load_table(spark, SF_DIR, "embeddings").select(
        "vec_id", "embedding"
    )
    store = str(tmp_path / "postings")
    if not os.path.exists(store):
        tx.materialize_postings(docs, store, n_buckets=8)
    queries = {"q1": ["the", "data"], "q2": ["of"]}
    labeled = docs.limit(60).withColumn(
        "label", (F.col("doc_id") % 2).cast("int")
    )
    return {
        "contrastive_pairs": sim.contrastive_pairs(
            emb, n_cells=4, seed=7, backend="expr"
        ),
        "bm25_scores": tx.bm25_scores(docs, ["the", "data"]),
        "bm25_batch": tx.bm25_batch(docs, queries, top_k=3),
        "bm25_batch_from_store": tx.bm25_batch_from_store(
            spark, store, queries, top_k=3
        ),
        "train_linear_classifier": tx.train_linear_classifier(
            labeled, n_buckets=16, epochs=1
        ),
    }


def test_driver_tables_are_local_relations(spark, tmp_path):
    """Every driver-built table enters the plan as a ``LocalRelation``
    (``pipeline.local_table``), never as a ``LogicalRDD`` whose every
    read runs a stage through Python workers — also with the
    session's Arrow flag off, which a pandas-input createDataFrame
    would need."""
    key = "spark.sql.execution.arrow.pyspark.enabled"
    prev = spark.conf.get(key)
    try:
        for flag in ("true", "false"):
            spark.conf.set(key, flag)
            for name, df in _driver_table_frames(spark, tmp_path).items():
                plan = df._jdf.queryExecution().optimizedPlan().toString()
                assert "LocalRelation" in plan, (flag, name, plan)
                assert "LogicalRDD" not in plan, (flag, name, plan)
    finally:
        spark.conf.set(key, prev)


def test_driver_tables_go_through_local_table():
    """No module of the package calls ``createDataFrame`` except
    ``pipeline.local_table`` and the two entry points that take user
    data as given."""
    import ast
    import pathlib

    import datasplash_spark

    allowed = {
        # generate_input: user rows of any Python type, schema inferred
        ("sources/files.py", "generate_input"),
        # PCollection.from_items: pickled user values, often repartitioned
        ("objectmode.py", "from_items"),
        ("pipeline.py", "local_table"),
    }

    def callers(node, owner):
        # yields the innermost enclosing function of each call
        for child in ast.iter_child_nodes(node):
            name = (
                child.name
                if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef))
                else owner
            )
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr == "createDataFrame"
            ):
                yield name
            yield from callers(child, name)

    root = pathlib.Path(datasplash_spark.__file__).parent
    found = {
        (path.relative_to(root).as_posix(), name)
        for path in sorted(root.rglob("*.py"))
        for name in callers(ast.parse(path.read_text("utf-8")), "<module>")
    }
    assert found <= allowed, sorted(found - allowed)
