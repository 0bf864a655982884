"""The benchmark's two workloads.

Each workload generates its inputs from the seed, loads them, and
exposes one *cycle* of operations: the closed-loop client runs whole
cycles, one operation at a time. An :class:`Op` splits into ``build``
(the package call that returns a plan) and ``act`` (the action
that runs it); the runner times both.

- ``curate``: seven curation passes over a near-duplicate corpus, each
  run to a content digest. Gate: a pass's digest is the same in every
  cycle.
- ``serve_ingest``: top-k reads against an IVF vector store and a BM25
  postings store, interleaved with micro-batch writes into both. Gate:
  the grown stores hold the same rows as one-shot builds of the
  ingested union, and BM25 over them equals a scan of the union.
"""

from __future__ import annotations

import os
import random
import time
from dataclasses import dataclass
from typing import Any, Callable

import pyarrow.parquet as pq

import gen

#: curation pass name -> per-layer module-wall metric
CURATE_PASSES = {
    "functions.dedup.dedup_clusters": "functions.dedup.dedup_clusters_s",
    "functions.similarity.semantic_dedup": "functions.similarity.semantic_dedup_s",
    "functions.text.bm25": "functions.text.bm25_s",
    "functions.dedup.winnow": "functions.dedup.winnow_s",
    "functions.similarity.contrastive": "functions.similarity.contrastive_s",
    "objectmode.wordcount": "objectmode.wordcount_s",
    "functions.doctext.sweep": "functions.doctext.sweep_s",
}

#: curation corpus: base documents/vectors and copies per base row
CURATE_BASE_DOCS = 2_000
CURATE_BASE_VECS = 400
CURATE_COPIES = 2

#: serving workload: micro-batch slices of the second half, read probes
SERVE_SLICES = 50
SERVE_QUERIES = 64
SERVE_READS_PER_WRITE = 4
IVF_CELLS = 16
IVF_NPROBE = 4
POSTINGS_BUCKETS = 32
TOP_K = 10


@dataclass
class Op:
    """One operation of a cycle. ``build(i)`` makes the plan for the
    ``i``-th run of this op; ``act(built)`` runs it and returns
    ``(result, held)`` where ``held`` is the Dataset whose action ran
    (``None`` when the op runs several actions inside the package)."""

    name: str
    kind: str
    build: Callable[[int], Any]
    act: Callable[[Any], tuple[Any, Any]]
    stores: tuple[str, ...] = ()


def store_files(path: str) -> tuple[int, int]:
    """(parquet data files, their bytes) under ``path``."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


def _digest(df):
    """Order-independent content digest of a DataFrame: row count, XOR
    and wrapped sum of per-row 64-bit hashes over every column, so every
    column must be computed."""
    from pyspark.sql import functions as F

    h = F.xxhash64(*df.columns)
    held = df.select(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(h).alias("x"),
        F.sum(h % F.lit(1_000_000_007)).alias("s"),
    )
    return tuple(held.collect()[0]), held


class Workload:
    name = ""
    #: whole cycles a measured window runs at least
    min_cycles = 1

    def __init__(self, spark, work_dir: str, seed: int):
        self.spark = spark
        #: corpus documents one full cycle processes (for docs_per_s)
        self.docs_per_cycle = 0
        self.dir = work_dir
        self.seed = seed
        self.rng = random.Random(seed)

    def generate(self) -> None:
        raise NotImplementedError

    def load(self) -> None:
        raise NotImplementedError

    def cycle(self) -> list[Op]:
        raise NotImplementedError

    def check(self, op: Op, result: Any) -> bool:
        """Per-run check of one op's result; False counts a failure."""
        return True

    def gate(self, log) -> tuple[int, int]:
        """Untimed end-of-run correctness gate: (checks, failures)."""
        return 0, 0


class Curate(Workload):
    name = "curate"

    def __init__(self, spark, work_dir, seed):
        super().__init__(spark, work_dir, seed)
        self.data = os.path.join(work_dir, "corpus")
        self.order = list(CURATE_PASSES)
        self.rng.shuffle(self.order)
        words = gen.vocabulary()
        self.terms = [words[r] for r in gen.MID_RANKS[::8]]
        self.digests: dict[str, tuple] = {}

    def generate(self):
        self.rows = gen.write_curation_corpus(
            self.data, self.seed, CURATE_BASE_DOCS, CURATE_BASE_VECS,
            CURATE_COPIES,
        )

    def load(self):
        from pyspark.sql import functions as F

        from datasplash_spark.pipeline import load_table, spread_scan

        self.docs = spread_scan(load_table(self.spark, self.data, "documents"), "doc_id")
        self.emb = load_table(self.spark, self.data, "embeddings")
        self.emb_d = self.emb.withColumn(
            "embedding", F.col("embedding").cast("array<double>")
        )
        self.docs_per_cycle = self.rows["documents"]

    def cycle(self):
        from datasplash_spark import queries as Q
        from datasplash_spark.functions import dedup as dd
        from datasplash_spark.functions import doctext as dt
        from datasplash_spark.functions import similarity as sim
        from datasplash_spark.functions import text as tx

        passes = {
            "functions.dedup.dedup_clusters": lambda: dd.dedup_clusters(
                self.docs, num_hashes=16, bands=4, k=3, seed=42, cache=True),
            "functions.similarity.semantic_dedup": lambda: sim.semantic_dedup(
                self.emb, n_cells=16, eps=0.3, cache=True),
            "functions.text.bm25": lambda: tx.bm25_scores(self.docs, self.terms),
            "functions.dedup.winnow": lambda: dd.winnow_fingerprints(
                self.docs, k=4, w=4),
            "functions.similarity.contrastive": lambda: sim.contrastive_pairs(
                self.emb_d, n_cells=16, seed=7),
            "objectmode.wordcount": lambda: Q.q_objectmode_wordcount(
                self.spark, self.data),
            "functions.doctext.sweep": lambda: dt.document_text_features(
                dt.synthesize_documents_from_text(self.docs)),
        }
        return [
            Op(name, "curate", lambda i, b=passes[name]: b(), _digest)
            for name in self.order
        ]

    def check(self, op, result):
        first = self.digests.setdefault(op.name, result)
        return first == result


class ServeIngest(Workload):
    name = "serve_ingest"
    # three ingests per window, so op_p90_s does not rest on one or two
    min_cycles = 3

    def __init__(self, spark, work_dir, seed):
        super().__init__(spark, work_dir, seed)
        self.inputs = os.path.join(work_dir, "inputs")
        self.ivf = os.path.join(work_dir, "ivf_store")
        self.postings = os.path.join(work_dir, "postings_store")
        self.next_slice = 0

    def generate(self):
        si = gen.serve_inputs(self.seed, SERVE_SLICES, SERVE_QUERIES)
        os.makedirs(self.inputs, exist_ok=True)
        pq.write_table(si.base_docs, self._path("docs", "base"))
        pq.write_table(si.base_vecs, self._path("vecs", "base"))
        for i, (d, v) in enumerate(zip(si.doc_slices, si.vec_slices)):
            pq.write_table(d, self._path("docs", i))
            pq.write_table(v, self._path("vecs", i))
        self.query_vecs = si.query_vecs
        self.term_pairs = si.term_pairs

    def _path(self, what, i):
        return os.path.join(self.inputs, f"{what}_{i}.parquet")

    def load(self):
        from datasplash_spark.functions import similarity as sim
        from datasplash_spark.streaming import postings_admitter

        read = self.spark.read.parquet
        self.centroids = sim.materialize_ivf(
            read(self._path("vecs", "base")), self.ivf, n_cells=IVF_CELLS)
        self.admit = postings_admitter(self.postings, n_buckets=POSTINGS_BUCKETS)
        self.admit(read(self._path("docs", "base")), 0)

    def cycle(self):
        from pyspark.sql import functions as F

        from datasplash_spark.functions import similarity as sim
        from datasplash_spark.functions import text as tx

        def collect(df):
            return [tuple(r) for r in df.collect()], df

        def ivf(i):
            return sim.ivf_topk_from_store(
                self.spark, self.ivf, self.query_vecs[i % SERVE_QUERIES],
                k=TOP_K, nprobe=IVF_NPROBE, centroids=self.centroids)

        def bm25(i):
            return tx.bm25_from_store(
                self.spark, self.postings, self.term_pairs[i % SERVE_QUERIES]
            ).orderBy(F.desc("score_nano"), "doc_id").limit(TOP_K)

        def batch(i):
            if self.next_slice >= SERVE_SLICES:
                raise RuntimeError("serve_ingest ran out of micro-batch slices")
            s = self.next_slice
            self.next_slice += 1
            read = self.spark.read.parquet
            return s, read(self._path("vecs", s)), read(self._path("docs", s))

        def ingest(built):
            s, vecs, docs = built
            t0 = time.perf_counter()
            sim.append_ivf(vecs, self.ivf)
            t1 = time.perf_counter()
            self.admit(docs, s + 1)
            t2 = time.perf_counter()
            return {"append_ivf_s": t1 - t0, "admitter_s": t2 - t1}, None

        reads = [
            Op("read.ivf", "read", ivf, collect, stores=(self.ivf,)),
            Op("read.bm25", "read", bm25, collect, stores=(self.postings,)),
        ]
        ops = [reads[j % 2] for j in range(SERVE_READS_PER_WRITE)]
        ops.append(Op("ingest", "write", batch, ingest,
                      stores=(self.ivf, self.postings)))
        return ops

    def gate(self, log):
        """Compare the grown stores, whole, with stores built in one
        shot from the ingested union: the IVF rows (cell, vec_id,
        embedding) with a ``materialize_ivf`` build over the same
        centroids, and the postings (term, doc_id, tf, dl,
        term_bucket) with one admitter batch of the union. Then the
        terms of every read probe, together, must score the same
        through ``bm25_from_store`` as through ``bm25_scores`` over
        the union."""
        from datasplash_spark.functions import similarity as sim
        from datasplash_spark.functions import text as tx
        from datasplash_spark.streaming import postings_admitter

        read = self.spark.read.parquet
        used = range(self.next_slice)
        docs = read(self._path("docs", "base"), *[self._path("docs", s) for s in used])
        vecs = read(self._path("vecs", "base"), *[self._path("vecs", s) for s in used])
        ivf_once = os.path.join(self.dir, "ivf_oneshot")
        sim.materialize_ivf(vecs, ivf_once, n_cells=IVF_CELLS, centroids=self.centroids)
        postings_once = os.path.join(self.dir, "postings_oneshot")
        postings_admitter(postings_once, n_buckets=POSTINGS_BUCKETS)(docs, 0)
        stores = [
            ("ivf", self.ivf, ivf_once, ("cell", "vec_id", "embedding")),
            ("postings", self.postings, postings_once,
             ("term", "doc_id", "tf", "dl", "term_bucket")),
        ]
        checks = failures = 0
        for name, grown, once, cols in stores:
            checks += 1
            a, b = (read(p).select(*cols) for p in (grown, once))
            extra, missing = a.exceptAll(b).count(), b.exceptAll(a).count()
            if extra or missing:
                log(f"gate {name}: grown store has {extra} rows the one-shot "
                    f"build lacks and lacks {missing} of its rows")
                failures += 1
        checks += 1
        terms = sorted({t for pair in self.term_pairs for t in pair})
        got, want = (
            sorted(tuple(r) for r in df.collect()) for df in (
                tx.bm25_from_store(self.spark, self.postings, terms),
                tx.bm25_scores(docs, terms)))
        if got != want:
            log(f"gate bm25: store {len(got)} rows != scan {len(want)} rows")
            failures += 1
        return checks, failures


WORKLOADS = {w.name: w for w in (Curate, ServeIngest)}
