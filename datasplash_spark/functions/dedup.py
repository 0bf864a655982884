"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram
Jaccard — LLM-data-pipeline extensions (BASELINE.json north_star).

Design for 100 TB:

- Exact dedup: hash-groupBy on a digest of the text — shuffles
  16-byte digests, not documents.
- MinHash/LSH: shingle → 60-bit base hash → H affine permutations
  ``(a·x + b) mod p`` (p = 2^61−1) → banded signature → groupBy band
  bucket → self-join on buckets. All pure Column expressions
  (higher-order array functions) — no Python in the hot path, no
  O(n²) compare; the only shuffles are on small bucket keys.
- SimHash: one pass over token hashes accumulating 60 bit-votes.

Cross-engine determinism: base hashes derive from md5 (identical in
DuckDB), and the permutation arithmetic runs in DECIMAL(38,0) on the
Spark side / HUGEINT on the DuckDB side — bit-exact both ways.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..operators.elementwise import ColumnLike, _col
from .text import doc_lines, tokens

#: Mersenne prime 2^31 − 1: permutation modulus. With 31-bit base
#: hashes, a·h + b < 2^63 — exact in native BIGINT on both Spark and
#: DuckDB (no decimal/HUGEINT needed in the hot path).
MERSENNE_P = (1 << 31) - 1

#: Mersenne prime 2^61 − 1: content-digest modulus (md5_long values
#: are 60-bit, strictly below it).
MERSENNE61 = (1 << 61) - 1

SIMHASH_BITS = 60  # md5_long yields 60-bit hashes


def md5_long(c: Column) -> Column:
    """Deterministic 60-bit integer hash: first 15 hex chars of md5.
    DuckDB equivalent: ``CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)``."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def md5_int31(c: Column) -> Column:
    """Deterministic 31-bit integer hash: first 8 hex chars of md5,
    masked to 31 bits so affine permutations stay within BIGINT.
    DuckDB: ``CAST('0x' || substr(md5(x), 1, 8) AS BIGINT) % 2147483648``."""
    return (
        F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long") % F.lit(1 << 31)
    )


def minhash_params(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the permutation family — a fixed
    LCG, so the oracle SQL can embed the same constants."""
    params = []
    state = seed
    for _ in range(num_hashes):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = (state % (MERSENNE_P - 1)) + 1
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = state % MERSENNE_P
        params.append((a, b))
    return params


def _affine_mod(h: Column, a: int, b: int) -> Column:
    """(a·h + b) mod p in plain BIGINT: a, h < 2^31 ⇒ a·h + b < 2^63."""
    return (F.lit(a) * h + F.lit(b)) % F.lit(MERSENNE_P)


def _windows(text: ColumnLike, k: int) -> Column:
    """Every run of ``k`` consecutive tokens of ``text``, space-joined,
    in order; texts shorter than ``k`` tokens yield their single
    full-token join. The token array is bound once per row (the outer
    one-element ``transform``): a window lambda that referenced
    ``tokens(text)`` itself would re-run ``split(lower(text))`` once
    per window, O(n²) in tokens per document."""

    def windows(toks: Column) -> Column:
        return F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(toks) - k + 1, F.lit(1))),
            lambda i: F.array_join(F.slice(toks, i, k), " "),
        )

    return F.transform(F.array(tokens(text)), windows)[0]


def shingles(text: ColumnLike, k: int = 3) -> Column:
    """Distinct word k-shingles (k tokens joined by a space); texts
    shorter than k tokens yield their single full-token join."""
    return F.array_distinct(_windows(text, k))


def minhash_signature(
    text: ColumnLike, num_hashes: int = 16, k: int = 3, seed: int = 42
) -> Column:
    """MinHash signature as a pure Column: array of per-permutation
    minima over the shingle hashes. Convenient for ad-hoc use, but the
    shingle/md5 subtree is re-inlined per permutation — prefer
    :func:`minhash_signatures` (explode + partial-agg) in pipelines."""
    hashes = F.transform(shingles(text, k), md5_int31)

    def perm(a: int, b: int):
        # closure factory: a plain 1-arg lambda (PySpark derives the HOF
        # arity from the Python signature, so default-arg tricks break)
        return lambda h: _affine_mod(h, a, b)

    return F.array(
        *[
            F.array_min(F.transform(hashes, perm(a, b)))
            for a, b in minhash_params(num_hashes, seed)
        ]
    )


def minhash_signatures(
    df: DataFrame,
    text: ColumnLike = "text",
    id_col: ColumnLike = "doc_id",
    num_hashes: int = 16,
    k: int = 3,
    seed: int = 42,
) -> DataFrame:
    """MinHash signatures, scale path: ``(doc_id, signature)``.

    explode(shingles) → one md5 per (doc, shingle) → groupBy(doc) with
    ``num_hashes`` min-aggregates. Each shingle is hashed exactly once
    (the Column form re-inlines it per permutation), all arithmetic is
    native BIGINT inside whole-stage codegen, and map-side partial
    aggregation collapses the shuffle to one num_hashes-wide row per
    doc per partition — linear and shuffle-light at any corpus size.
    """
    hashed = df.select(
        _col(id_col).alias("doc_id"),
        F.explode(shingles(text, k)).alias("_sh"),
    ).select("doc_id", md5_int31(F.col("_sh")).alias("_h"))
    params = minhash_params(num_hashes, seed)
    # parsed-SQL aggregates (r13, see simhash_signatures): the
    # per-permutation Column chains paid py4j round-trips per term;
    # the SQL strings build the identical BIGINT expressions
    aggs = [
        F.expr(f"min(({a} * _h + {b}) % {MERSENNE_P})").alias(f"_m{i}")
        for i, (a, b) in enumerate(params)
    ]
    return (
        hashed.groupBy("doc_id")
        .agg(*aggs)
        .select(
            "doc_id",
            F.array(*[f"_m{i}" for i in range(num_hashes)]).alias("signature"),
        )
    )


def simhash(text: ColumnLike) -> Column:
    """SimHash signature as a 60-bit BIGINT: a bit is set when more
    than half the distinct token hashes have it set (majority vote —
    equivalent to the classic ±1 vote sum being positive).

    Pure-Column form: convenient, but the token/md5 subtree re-inlines
    per bit under project collapse — prefer :func:`simhash_signatures`
    in pipelines (shift amounts must be Python ints: Spark's
    shiftleft/shiftright reject Column counts)."""
    hashes = F.transform(F.array_distinct(tokens(text)), md5_long)
    n = F.size(hashes)

    def bit_set(b: int):
        mask = 1 << b
        return lambda h: h.bitwiseAND(F.lit(mask)) != 0

    out = F.lit(0).cast("long")
    for b in range(SIMHASH_BITS):
        count_set = F.size(F.filter(hashes, bit_set(b)))
        out = out + F.when(
            count_set * 2 > n, F.lit(1 << b).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    return out


def simhash_signatures(
    df: DataFrame, text: ColumnLike = "text", id_col: ColumnLike = "doc_id"
) -> DataFrame:
    """SimHash, scale path: ``(doc_id, simhash)``.

    explode(distinct tokens) → one md5 per (doc, token) → groupBy(doc)
    with 60 majority-vote aggregates (sum of ±1 per bit, map-side
    partial agg) → bit assembly. Same shuffle shape as
    :func:`minhash_signatures`: one 60-wide row per doc per partition.
    """
    hashed = df.select(
        _col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(tokens(text))).alias("_tok"),
    ).select("doc_id", md5_long(F.col("_tok")).alias("_h"))
    # the 60 per-bit vote aggregates and the 60-term bit assembly are
    # parsed SQL, not per-bit Column chains: the F.when/bitwiseAND
    # form paid ~1.4 s of pure DRIVER py4j time per call (measured
    # r13 — essentially dedup_simhash's whole bench wall); same
    # integer expressions, same values (see lit_vec for the pattern)
    aggs = [
        F.expr(
            f"sum(CASE WHEN (_h & {1 << b}) != 0 THEN 1 ELSE -1 END)"
        ).alias(f"_v{b}")
        for b in range(SIMHASH_BITS)
    ]
    voted = hashed.groupBy("doc_id").agg(*aggs)
    assembly = "CAST(0 AS BIGINT)" + "".join(
        f"+(CASE WHEN _v{b} > 0 THEN CAST({1 << b} AS BIGINT)"
        " ELSE CAST(0 AS BIGINT) END)"
        for b in range(SIMHASH_BITS)
    )
    sig = voted.select("doc_id", F.expr(assembly).alias("simhash"))
    return sig


def rolling_fingerprint(text: ColumnLike, base: int = 1000003) -> Column:
    """Order-sensitive document fingerprint: polynomial rolling hash
    over the token-hash sequence, folded left-to-right in BIGINT
    (acc·base + h < 2^51, exact). DuckDB mirror:
    ``list_reduce(list_prepend(0, hashes), (a, x) -> (a*base + x) % p)``."""
    hashes = F.transform(tokens(text), md5_int31)
    return F.aggregate(
        hashes,
        F.lit(0).cast("long"),
        lambda acc, h: (acc * F.lit(base) + h) % F.lit(MERSENNE_P),
    )


def winnow_fingerprints(
    df: DataFrame,
    k: int = 4,
    w: int = 4,
    text: ColumnLike = "text",
    id_col: ColumnLike = "doc_id",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson &
    Aiken, SIGMOD 2003 — the MOSS algorithm): hash every token
    k-gram in POSITION ORDER, slide a window of ``w`` consecutive
    hashes, and record the MINIMUM hash of each window (distinct per
    doc). Guarantees every shared run of ``w + k - 1`` tokens
    between two documents shares at least one fingerprint — the
    local-sampling property that makes winnowing the standard
    plagiarism/near-copy detector (contrast MinHash, which samples
    globally per permutation and carries no locality guarantee).

    Physical shape: the k-gram hash ARRAY computes once per doc
    (the token array is staged as a real column with two references,
    so CollapseProject cannot inline-duplicate it), then the window
    minima run as a posexplode + running ``min OVER (ROWS w-1
    FOLLOWING)`` — one shuffle of the small (doc_id, pos, hash)
    table, strictly linear work. (A first cut expressed the window
    min as a nested array lambda over the hash expression; Catalyst
    inlines single-reference expressions into lambda bodies, so the
    md5 array re-evaluated PER WINDOW INDEX — O(n²) hashing, 174 s
    at sf0.1 vs ~2 s for this shape. Lesson recorded in
    SCALING.md.) md5-based hashing keeps the oracle engine
    bit-identical.

    Reference anchor: no analog; LLM-pipeline extension surface
    (fingerprinting family, BASELINE.json north_star).
    """
    from pyspark.sql import Window

    staged = df.select(
        _col(id_col).alias("doc_id"),
        F.filter(tokens(_col(text)), lambda x: x != "").alias("_t"),
    )
    n = F.size(F.col("_t"))
    kgrams = F.transform(
        F.sequence(F.lit(1), F.greatest(n - k + 1, F.lit(1))),
        lambda i: F.array_join(F.slice(F.col("_t"), i, k), " "),
    )
    hashed = staged.select(
        "doc_id", F.posexplode(F.transform(kgrams, md5_int31))
    ).withColumnsRenamed({"pos": "_pos", "col": "_h"})
    wspec = (
        Window.partitionBy("doc_id")
        .orderBy("_pos")
        .rowsBetween(Window.currentRow, w - 1)
    )
    nspec = Window.partitionBy("doc_id")
    return (
        hashed.select(
            "doc_id",
            "_pos",
            F.min("_h").over(wspec).alias("fp"),
            F.count(F.lit(1)).over(nspec).alias("_n"),
        )
        .filter(
            F.col("_pos") <= F.greatest(F.col("_n") - w, F.lit(0))
        )
        .select("doc_id", "fp")
        .distinct()
    )


def cdc_chunks(
    df: DataFrame,
    divisor: int = 32,
    k: int = 4,
    text: ColumnLike = "text",
    id_col: ColumnLike = "doc_id",
) -> DataFrame:
    """Content-defined chunking (the FastCDC/rsync boundary idea at
    token granularity): cut a document AFTER token ``i + k - 1``
    whenever the hash of the k-gram starting at token ``i`` is ``0
    mod divisor`` — boundaries depend only on local content, so an
    insertion early in a document shifts chunk CONTENT but not the
    boundaries downstream of it (contrast fixed-size chunking, where
    one inserted token re-chunks everything after it). Expected
    chunk length ≈ ``divisor`` tokens. The chunk digest stream is
    the storage-style dedup unit: shared chunks between corpus
    versions dedupe by digest regardless of position.

    Returns ``(doc_id, chunk_idx, start_tok, n_toks, chunk_digest)``
    — digest = md5 of the chunk's space-joined tokens. Documents
    with fewer than ``k`` tokens are one whole-document chunk;
    zero-token documents yield no rows.

    Shape: pure array expressions (the winnowing k-gram staging —
    the token array lands as a real column so Catalyst can't
    inline-duplicate it into the lambda) + one posexplode — linear,
    no shuffle, no Python. The boundary rule is md5-based, so the
    oracle replays it exactly.

    Reference anchor: no analog; LLM-pipeline extension surface
    (BASELINE.json north_star)."""
    if divisor < 1:
        raise ValueError("divisor must be >= 1")
    if k < 1:
        raise ValueError("k must be >= 1")
    staged = df.select(
        _col(id_col).alias("doc_id"),
        F.filter(tokens(_col(text)), lambda x: x != "").alias("_t"),
    )
    n = F.size(F.col("_t"))
    # cut positions: AFTER token i+k-1 for qualifying k-gram starts i
    # (a cut at the last token is a no-op and is excluded)
    cuts = F.filter(
        F.transform(
            F.sequence(F.lit(1), F.greatest(n - k + 1, F.lit(1))),
            lambda i: F.when(
                (n >= k)
                & (F.pmod(md5_int31(F.array_join(F.slice(F.col("_t"), i, k), " ")), F.lit(int(divisor))) == 0)
                & (i + k - 1 < n),
                i + k - 1,
            ),
        ),
        lambda x: x.isNotNull(),
    )
    starts = F.concat(F.array(F.lit(1)), F.transform(cuts, lambda c: c + 1))
    ends = F.concat(cuts, F.array(n))
    chunks = F.zip_with(
        starts,
        ends,
        lambda s, e: F.struct(
            s.alias("start_tok"),
            (e - s + 1).alias("n_toks"),
            F.md5(F.array_join(F.slice(F.col("_t"), s, e - s + 1), " ")).alias(
                "chunk_digest"
            ),
        ),
    )
    out = staged.select(
        "doc_id", F.posexplode(chunks).alias("chunk_idx", "_c")
    )
    return out.select(
        "doc_id",
        F.col("chunk_idx").cast("long"),
        F.col("_c.start_tok").cast("long").alias("start_tok"),
        F.col("_c.n_toks").cast("long").alias("n_toks"),
        F.col("_c.chunk_digest"),
    ).filter(F.col("n_toks") > 0)


def hamming64(a: ColumnLike, b: ColumnLike) -> Column:
    """Hamming distance between two 64-bit signatures."""
    return F.bit_count(_col(a).bitwiseXOR(_col(b)))


def ngram_jaccard(a: ColumnLike, b: ColumnLike, k: int = 3) -> Column:
    """n-gram (word k-shingle) Jaccard similarity of two text columns."""
    sa, sb = shingles(a, k), shingles(b, k)
    inter = F.size(F.array_intersect(sa, sb))
    union = F.size(F.array_union(sa, sb))
    return F.when(
        union > 0, inter.cast("double") / union.cast("double")
    ).otherwise(F.lit(0.0))


# ------------------------------------------------------------- pipelines

def ngram_containment(
    a: ColumnLike, b: ColumnLike, k: int = 3
) -> Column:
    """n-gram CONTAINMENT of ``a`` in ``b``: |shingles(a) ∩
    shingles(b)| / |shingles(a)| — the asymmetric companion to
    :func:`ngram_jaccard` for subset-duplicate detection (a quote, an
    excerpt, a doc embedded in a larger one): a short doc wholly
    contained in a long one scores containment ≈ 1 while Jaccard
    stays near |a|/|b| and slips under symmetric thresholds. Pure
    array-HOF Column expression; 0.0 when ``a`` has no shingles."""
    sa, sb = shingles(a, k), shingles(b, k)
    inter = F.size(F.array_intersect(sa, sb))
    return F.when(F.size(sa) > 0, inter / F.size(sa)).otherwise(F.lit(0.0))


def exact_duplicates(
    df: DataFrame, text: ColumnLike = "text", id_col: ColumnLike = "doc_id"
) -> DataFrame:
    """Exact dedup: digest-groupBy; groups with >1 doc are duplicate
    sets (keep_id = canonical survivor)."""
    return (
        df.select(F.md5(_col(text)).alias("digest"), _col(id_col).alias("doc_id"))
        .groupBy("digest")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keep_id"))
        .filter(F.col("n_docs") > 1)
    )


def dedup_exact(
    df: DataFrame, text: ColumnLike = "text", id_col: ColumnLike = "doc_id"
) -> DataFrame:
    """Keep one doc (min id) per exact-text group; returns surviving ids."""
    return (
        df.groupBy(F.md5(_col(text)).alias("digest"))
        .agg(F.min(_col(id_col)).alias("doc_id"))
        .drop("digest")
    )


def lsh_banded(
    df: DataFrame,
    text: ColumnLike = "text",
    id_col: ColumnLike = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    k: int = 3,
    seed: int = 42,
) -> DataFrame:
    """Banded MinHash table: one (doc_id, bucket) row per doc × band.

    bucket = band index + that band's signature slice; two docs
    colliding in ANY band share a bucket value. This is the linear
    stage of LSH — everything downstream (pair generation, verify,
    repeated probing) joins on ``bucket``.
    """
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(df, text, id_col, num_hashes, k, seed)
    return (
        sigs.withColumnRenamed("signature", "_sig")
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(bands - 1)),
                    lambda bnd: F.struct(
                        bnd.alias("band"),
                        F.slice(
                            F.col("_sig"), bnd * rows_per_band + 1, rows_per_band
                        ).alias("band_sig"),
                    ),
                )
            ).alias("b"),
        )
        .select(
            "doc_id",
            F.concat_ws(
                ":",
                F.col("b.band").cast("string"),
                F.array_join(F.col("b.band_sig"), ","),
            ).alias("bucket"),
        )
    )


def materialize_banded(
    df: DataFrame,
    path: str,
    table: str | None = None,
    buckets: int = 32,
    text: ColumnLike = "text",
    id_col: ColumnLike = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    k: int = 3,
    seed: int = 42,
) -> DataFrame:
    """Write the banded MinHash table ONCE (parquet, hash-bucketed by
    ``bucket``) and return a DataFrame reading it back.

    The 100 TB shape for LSH self-joins and repeated probing: the
    signature pipeline (shingle → md5 → permutations → band slices)
    runs a single time, and because the table is bucketed on the join
    key, the self-join needs NO Exchange — the shuffle is paid once at
    write time, and later probe jobs reuse the table without paying
    it at all.

    Measured at sf0.1 (3 interleaved reps, local[32]): in-plan
    recompute 3.5–8.7 s, persist of the narrow banded table
    3.0–4.5 s, materialize 3.6–5.9 s — within-session the three are
    noise-separated, so the choice is about durability: ``cache=True``
    (on :func:`lsh_candidate_pairs`) for single-job reuse,
    ``materialize_dir`` when the banded table is probed across jobs.
    (Round 1's "persist 3.5× worse" measured persisting the full
    signature table, not this narrow doc_id+bucket projection.)
    """
    import uuid

    from ..sources.files import write_bucketed

    banded = lsh_banded(df, text, id_col, num_hashes, bands, k, seed)
    if table is None:
        table = f"ds_lsh_banded_{uuid.uuid4().hex[:12]}"
    write_bucketed(banded, table, key="bucket", buckets=buckets, path=path)
    return df.sparkSession.table(table)


def _pairs_from_banded(banded: DataFrame) -> DataFrame:
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(right, on="bucket")
        .filter(F.col("l.doc_id") < F.col("r.doc_id"))
        .select(F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b"))
        .distinct()
    )


def lsh_candidate_pairs(
    df: DataFrame,
    text: ColumnLike = "text",
    id_col: ColumnLike = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    k: int = 3,
    seed: int = 42,
    materialize_dir: str | None = None,
    buckets: int = 32,
    cache: bool = False,
) -> DataFrame:
    """MinHash-LSH near-dup candidate pairs (doc_a < doc_b).

    docs × bands rows explode out, bucket = (band, signature slice);
    pairs come from the bucket self-join. Linear in corpus size plus
    the (intended) quadratic only inside same-bucket collision groups.

    One-signature-computation options (default recomputes the
    pipeline once per join side — fine for one-shot small inputs):

    - ``materialize_dir``: write the banded table once (bucketed
      parquet via :func:`materialize_banded`); zero-Exchange
      self-join, reusable across jobs. The 100 TB shape.
    - ``cache=True``: persist the narrow (doc_id, bucket) table
      MEMORY_AND_DISK for this session. Caller owns the lifetime
      (``.unpersist()``); nothing is written.
    """
    if materialize_dir is not None:
        banded = materialize_banded(
            df, materialize_dir, buckets=buckets, text=text, id_col=id_col,
            num_hashes=num_hashes, bands=bands, k=k, seed=seed,
        )
    else:
        banded = lsh_banded(df, text, id_col, num_hashes, bands, k, seed)
        if cache:
            from pyspark import StorageLevel

            banded = banded.persist(StorageLevel.MEMORY_AND_DISK)
            # NOT eagerly materialized (r14, measured): AQE submits
            # the self-join's two side exchanges concurrently against
            # the cold cache, but BlockManager's per-block locking
            # already serializes the signature compute (the second
            # task blocks, then reads the cached block) — an explicit
            # pre-count measured a wash-to-slightly-worse wall
            # (interleaved warm A/B: lazy 1.13 s / 4.9 s cpu vs eager
            # 1.25 s / 5.5 s cpu) because it adds a scheduled job
            # without removing real work.
    return _pairs_from_banded(banded)


def dedup_clusters(
    df: DataFrame,
    text: ColumnLike = "text",
    id_col: ColumnLike = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    k: int = 3,
    seed: int = 42,
    materialize_dir: str | None = None,
    buckets: int = 32,
    algorithm: str = "hash-min",
    cache: bool = False,
) -> DataFrame:
    """Near-duplicate CLUSTERS: the step after candidate pairs in a
    real corpus-dedup pipeline. LSH candidate pairs → connected
    components (``functions.graph``) → one ``(doc_id, cluster_id)``
    row per document, singletons keeping their own id. ``min(doc_id)``
    per cluster is the canonical survivor; ``WHERE doc_id =
    cluster_id`` filters the corpus to survivors in one pass.

    ``algorithm``: ``hash-min`` (default — right for LSH dedup where
    components are small near-cliques) or ``star`` (large-star/
    small-star contraction — the escalation for giant components /
    long chains).

    Scale shape: pairs are bucket-join output (linear + intra-bucket
    quadratic), components iterate on the pair list only (tiny vs the
    corpus), and the final assignment is a broadcast-sized left join
    back to the corpus ids.
    """
    from .graph import (
        cluster_assignments,
        connected_components,
        connected_components_star,
    )

    cc = {
        "hash-min": connected_components,
        "star": connected_components_star,
    }
    if algorithm not in cc:
        raise ValueError(f"unknown algorithm {algorithm!r}; use hash-min | star")
    pairs = lsh_candidate_pairs(
        df, text, id_col, num_hashes, bands, k, seed,
        materialize_dir=materialize_dir, buckets=buckets, cache=cache,
    )
    comps = cc[algorithm](pairs, "doc_a", "doc_b")
    return cluster_assignments(df, comps, id_col)


def incremental_new_docs(
    incoming: DataFrame,
    store: DataFrame,
    text: ColumnLike = "text",
    id_col: ColumnLike = "doc_id",
) -> DataFrame:
    """Incremental exact dedup: ids of ``incoming`` docs whose text
    digest does NOT already exist in ``store`` — the admission filter
    a continuously-ingesting corpus runs on every batch.

    Scale shape: a LEFT ANTI join on 16-byte md5 digests — neither
    side ships document text through the shuffle. In production the
    store side is a digest-only table materialized once (bucketed on
    digest via ``sources.files.write_bucketed``) so each incoming
    batch joins with zero Exchange on the store side and no re-scan
    of historical text.
    """
    inc = incoming.select(
        _col(id_col).alias("doc_id"), F.md5(_col(text)).alias("digest")
    )
    st = store.select(F.md5(_col(text)).alias("digest")).distinct()
    return inc.join(st, on="digest", how="left_anti").select("doc_id")


def cross_corpus_pairs(
    left: DataFrame,
    right: DataFrame,
    text: ColumnLike = "text",
    id_col: ColumnLike = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    k: int = 3,
    seed: int = 42,
) -> DataFrame:
    """Cross-corpus near-dup candidates: LSH-bucket join BETWEEN two
    corpora (incoming batch probed against an existing store) — no
    self-join, no intra-corpus pairs. Returns distinct
    ``(doc_a ∈ left, doc_b ∈ right)``.

    Scale shape: both sides reduce to (doc_id, bucket) before the
    join; an incoming batch is tiny vs the store, so AQE broadcasts
    it, and a persistent store keeps its banded table materialized
    bucketed-by-bucket (``materialize_banded``) so probes pay no
    store-side shuffle or signature recompute.
    """
    lb = lsh_banded(left, text, id_col, num_hashes, bands, k, seed)
    rb = lsh_banded(right, text, id_col, num_hashes, bands, k, seed)
    return (
        lb.alias("l")
        .join(rb.alias("r"), on="bucket")
        .select(F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b"))
        .distinct()
    )


def cross_corpus_pairs_partitioned(
    df: DataFrame,
    left_pred: "Callable[[Column], Column]",
    right_pred: "Callable[[Column], Column]",
    text: ColumnLike = "text",
    id_col: ColumnLike = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    k: int = 3,
    seed: int = 42,
    materialize_dir: str | None = None,
    buckets: int = 32,
) -> DataFrame:
    """:func:`cross_corpus_pairs` for the common case where both
    'corpora' are PARTITIONS of one table (e.g. store = already
    ingested ids, incoming = the new batch): band the WHOLE table
    once and self-join with side predicates — half the signature
    compute of the two-frame form, and with ``materialize_dir`` the
    join is a zero-Exchange bucketed self-join (one signature
    computation total, reusable across batches).
    """
    if materialize_dir is not None:
        banded = materialize_banded(
            df, materialize_dir, buckets=buckets, text=text, id_col=id_col,
            num_hashes=num_hashes, bands=bands, k=k, seed=seed,
        )
    else:
        banded = lsh_banded(df, text, id_col, num_hashes, bands, k, seed)
    l = banded.alias("l")
    r = banded.alias("r")
    return (
        l.join(r, on="bucket")
        .filter(left_pred(F.col("l.doc_id")) & right_pred(F.col("r.doc_id")))
        .select(F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b"))
        .distinct()
    )


def contamination_hits(
    docs: DataFrame,
    eval_df: DataFrame,
    k: int = 3,
    text: ColumnLike = "text",
    id_col: ColumnLike = "doc_id",
) -> DataFrame:
    """Benchmark-contamination scan: for each training document, the
    number of distinct word ``k``-grams it shares with an evaluation
    set — the standard pre-training decontamination signal (eval-set
    n-gram overlap; public methodology from the GPT-3/PaLM/Llama data
    cards). Returns ``(doc_id, n_shared)``; clean docs don't appear.

    Scale shape: both sides reduce to md5 digests of their distinct
    k-grams before joining — the shuffle carries 16-byte digests,
    never text. Benchmarks are ≪ corpus, so the distinct eval-digest
    set is AQE-broadcast (the 100 TB training side pays no join
    shuffle); the per-doc count is one partial-agg shuffle on doc_id.
    """
    doc_grams = docs.select(
        _col(id_col).alias("doc_id"),
        F.explode(shingles(text, k)).alias("_g"),
    ).select("doc_id", F.md5(F.col("_g")).alias("digest"))
    eval_grams = (
        eval_df.select(F.explode(shingles(text, k)).alias("_g"))
        .select(F.md5(F.col("_g")).alias("digest"))
        .distinct()
    )
    return (
        doc_grams.join(eval_grams, on="digest")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


def decontaminate(
    docs: DataFrame,
    eval_df: DataFrame,
    k: int = 3,
    min_hits: int = 1,
    text: ColumnLike = "text",
    id_col: ColumnLike = "doc_id",
) -> DataFrame:
    """Drop training documents that share ≥ ``min_hits`` distinct
    word k-grams with the evaluation set. LEFT ANTI join on the
    contaminated-id set — ids only through the final shuffle; with
    the eval side bounded, AQE broadcasts the contaminated-id list
    and the corpus passes through in one scan."""
    bad = (
        contamination_hits(docs, eval_df, k, text, id_col)
        .filter(F.col("n_shared") >= int(min_hits))
        .select(F.col("doc_id").alias("_contaminated_id"))
    )
    return docs.join(
        bad, on=_col(id_col) == F.col("_contaminated_id"), how="left_anti"
    )


def token_windows(text: ColumnLike, k: int = 8) -> Column:
    """Positional (non-distinct) word k-token windows — every
    consecutive run of ``k`` tokens, in order, duplicates kept.
    Unlike :func:`shingles` (a distinct *set* for MinHash), these are
    the occurrence-level units for exact repeated-substring detection
    (Lee et al., "Deduplicating Training Data Makes Language Models
    Better"): a window that occurs twice anywhere in the corpus marks
    a repeated span. Texts shorter than ``k`` tokens yield the single
    full-token join."""
    return _windows(text, k)


def repeated_window_counts(
    df: DataFrame,
    text: ColumnLike = "text",
    k: int = 8,
) -> DataFrame:
    """Corpus-wide occurrence counts of token k-windows:
    ``(window_md5, n_occurrences)`` for windows occurring more than
    once. The 100 TB shape: windows hash to 16-byte md5 digests
    *before* the shuffle (digests move, text doesn't), counting is a
    partial+final HashAggregate, and the >1 filter drops the unique
    long tail (the overwhelming majority) before anything downstream.
    """
    wins = df.select(
        F.explode(token_windows(text, k)).alias("w")
    ).select(F.md5("w").alias("window_md5"))
    return (
        wins.groupBy("window_md5")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .filter(F.col("n_occurrences") > 1)
    )


def repetition_stats(
    df: DataFrame,
    text: ColumnLike = "text",
    id_col: ColumnLike = "doc_id",
    k: int = 8,
) -> DataFrame:
    """Per-document exact-repetition profile against the whole corpus:
    ``doc_id, n_windows, n_dup_windows`` where a window is *dup* when
    its k-token text occurs >1 time corpus-wide (cross- or intra-doc).
    Trainers drop or trim docs with high ``n_dup_windows/n_windows``.

    Two digest-keyed shuffles: count windows globally, then a
    digest↔digest LEFT JOIN back to per-doc windows (AQE broadcasts
    the duplicated-window side when it is small, the common case after
    the >1 filter) and a per-doc re-aggregation. Documents themselves
    never shuffle — only 16-byte digests and ids. The per-doc window
    table is PERSISTED and the corpus-wide counts derive from it, so
    the corpus tokenize + window-explode pipeline executes once, not
    once per consumer."""
    from pyspark import StorageLevel

    wins = (
        df.select(
            _col(id_col).alias("doc_id"),
            F.explode(token_windows(text, k)).alias("w"),
        )
        .select("doc_id", F.md5("w").alias("window_md5"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    dup = (
        wins.groupBy("window_md5")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > 1)
        .select("window_md5", F.lit(1).alias("_dup"))
    )
    return (
        wins.join(dup, "window_md5", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.count("_dup").alias("n_dup_windows"),
        )
    )


def remove_repeated_spans(
    df: DataFrame,
    text: ColumnLike = "text",
    id_col: ColumnLike = "doc_id",
    k: int = 8,
    min_count: int = 2,
    persist: bool = True,
    keep_first: bool = False,
) -> DataFrame:
    """Exact repeated-span REMOVAL (Lee et al., "Deduplicating
    Training Data Makes Language Models Better" — the ExactSubstr
    dedup, token-window approximation): every k-token window whose
    text occurs ≥ ``min_count`` times corpus-wide marks its covered
    token positions, and those tokens are cut from the document.

    ``keep_first=False`` (default) cuts EVERY occurrence — the
    boilerplate/licence-block trim. ``keep_first=True`` preserves
    the corpus-canonical occurrence of each duplicated window — the
    lexicographically first ``(doc_id, start)`` — and cuts the rest,
    the Lee-et-al. semantics where one copy of the duplicated span
    survives training. (Window-level approximation: where
    overlapping windows elect canonicals in different documents, the
    boundary tokens of a long span may still trim — exact-substring
    byte semantics would need a suffix array; this is the
    shuffle-friendly form.) Canonical election costs one extra
    ``min(struct(doc_id, start))`` inside the same aggregate — no
    additional shuffle.
    Output: ``doc_id, text_clean, n_tokens, n_removed`` — the
    curation step that *trims* boilerplate/licence blocks instead of
    dropping whole documents (reference has no analog; this is the
    LLM-pipeline extension surface).

    100 TB shape: the occurrence-level window table carries
    ``(doc_id, start, 16-byte digest)`` — documents never shuffle.
    Corpus-wide counts are one partial+final HashAggregate over the
    digests; the ≥min_count survivors (the small tail) flow into an
    AQE-broadcastable join back to per-doc windows; per-doc dup-start
    lists are a collect_list aggregate keyed by doc_id (bounded by
    windows-per-doc, i.e. document length — not corpus size). The
    final rebuild is a pure per-row Column expression (nested
    higher-order functions), embarrassingly parallel. Worst-case
    per-row cost is O(n_tokens × n_dup_starts) for a fully
    duplicated document — bounded by doc length squared, independent
    of corpus size. The per-doc window table is persisted so the
    tokenize+explode pipeline runs once for both the count and the
    join-back.

    Texts shorter than ``k`` tokens form a single whole-text window:
    if that text repeats corpus-wide the whole short doc empties —
    the Lee et al. semantics for sub-window duplicates.

    ``persist`` (default True) caches the per-token window table —
    the largest intermediate here — so the tokenize+explode pipeline
    runs once for both consumers. The CALLER owns the cache lifetime
    (as with ``lsh_candidate_pairs(cache=True)``): in a long-lived
    session, ``spark.catalog.clearCache()`` after the result is
    consumed, or pass ``persist=False`` to trade a second pipeline
    execution for zero cache residency.
    """
    from pyspark import StorageLevel

    wins = df.select(
        _col(id_col).alias("doc_id"),
        F.posexplode(token_windows(text, k)).alias("pos0", "w"),
    ).select(
        "doc_id",
        (F.col("pos0") + 1).alias("start"),
        F.md5("w").alias("window_md5"),
    )
    if persist:
        wins = wins.persist(StorageLevel.MEMORY_AND_DISK)
    if keep_first:
        dup = (
            wins.groupBy("window_md5")
            .agg(
                F.count(F.lit(1)).alias("_n"),
                F.min(F.struct("doc_id", "start")).alias("_keep"),
            )
            .filter(F.col("_n") >= min_count)
            .select("window_md5", "_keep")
        )
        dup_starts = (
            wins.join(dup, "window_md5")
            .filter(
                ~(
                    (F.col("doc_id") == F.col("_keep.doc_id"))
                    & (F.col("start") == F.col("_keep.start"))
                )
            )
            .groupBy("doc_id")
            .agg(F.sort_array(F.collect_list("start")).alias("starts"))
        )
    else:
        dup = (
            wins.groupBy("window_md5")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") >= min_count)
            .select("window_md5")
        )
        dup_starts = (
            wins.join(dup, "window_md5")
            .groupBy("doc_id")
            .agg(F.sort_array(F.collect_list("start")).alias("starts"))
        )
    base = df.select(
        _col(id_col).alias("doc_id"), _col(text).alias("_text")
    ).join(dup_starts, "doc_id", "left")
    starts = F.coalesce(F.col("starts"), F.array().cast("array<int>"))
    t = tokens(F.col("_text"))
    kept = F.filter(
        t,
        lambda tok, i: ~F.exists(
            starts, lambda s: (s <= i + 1) & (i + 1 < s + F.lit(k))
        ),
    )
    # coalesce mirrors the oracle's NULL-text handling (a NULL text
    # yields an empty clean string, not NULL)
    return base.select(
        "doc_id",
        F.coalesce(F.array_join(kept, " "), F.lit("")).alias("text_clean"),
        F.size(t).cast("long").alias("n_tokens"),
        (F.size(t) - F.size(kept)).cast("long").alias("n_removed"),
    )


def source_overlap(
    df: DataFrame,
    text: ColumnLike = "text",
    source: ColumnLike = "source",
    k: int = 3,
) -> DataFrame:
    """Cross-source n-gram overlap matrix:
    ``(source_a, source_b, n_shared)`` = the number of distinct word
    ``k``-gram digests the two sources share (``source_a <
    source_b``). The corpus-curation diagnostic for "are these two
    crawls/snapshots substantially the same data?" — run before
    mixing sources so duplicated collections get weighted once.

    Scale shape (r13 optimization, guide §2.3 "shuffle keys and
    metadata instead of payloads" + §1.2 "the distributed
    algorithm"): explode → one 16-byte md5 per (source, shingle),
    then straight into a per-digest ``collect_set(source)`` whose
    map-side partial aggregation dedups — the corpus collapses to
    vocab-sized digest sets in ONE exchange (r14: the former separate
    ``(src, digest).distinct()`` pass was redundant and cost a second
    corpus-wide Exchange). Then, instead of a digest self-join (which multiplies every digest shared by ``m``
    sources into ``m²`` join rows — measured ~20 M intermediate rows
    and 15-20 s of executor CPU at sf0.1), each digest reduces to
    its sorted SOURCE SET (bounded by |sources| ≪ corpus, the
    operator's own premise), identical sets collapse to one counted
    row (at most ``min(2^|S|, |vocab|)`` rows, in practice a
    handful), and the |S|·(|S|−1)/2 pair counts come from expanding
    each distinct set's pairs over that tiny table. Nothing wider
    than (16-byte digest → source set) ever shuffles, the
    quadratic-in-sources step runs on co-occurrence patterns rather
    than on vocab-sized digest sets, and no driver collect is needed
    at any source count.
    """
    sd = (
        df.select(
            _col(source).alias("src"),
            F.explode(shingles(text, k)).alias("s"),
        )
        .select("src", F.unhex(F.md5("s")).alias("digest"))
    )
    # digest -> its sorted source SET; identical sets then collapse to
    # one counted row, so the quadratic pair expansion runs over the
    # handful of distinct co-occurrence patterns, never over the vocab.
    # r14: no (src, digest).distinct() stage before this — collect_set
    # dedups by definition and its map-side partial aggregation already
    # collapses duplicate (digest, src) observations to one set entry
    # per digest per map partition, so the distinct only added a full
    # extra Exchange (by (src, digest)) plus a corpus-wide aggregate
    # pass for zero semantic effect.
    sets = (
        sd.groupBy("digest")
        .agg(F.sort_array(F.collect_set("src")).alias("_ss"))
        .groupBy("_ss")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    pair = F.filter(
        F.flatten(
            F.transform(
                F.col("_ss"),
                lambda a: F.transform(
                    F.col("_ss"),
                    lambda b: F.struct(
                        a.alias("source_a"), b.alias("source_b")
                    ),
                ),
            )
        ),
        lambda s: s["source_a"] < s["source_b"],
    )
    return (
        sets.select(F.explode(pair).alias("_p"), "_n")
        .groupBy(
            F.col("_p.source_a").alias("source_a"),
            F.col("_p.source_b").alias("source_b"),
        )
        .agg(F.sum("_n").alias("n_shared"))
    )


def keep_best_per_cluster(
    df: DataFrame,
    clusters: DataFrame,
    score: ColumnLike,
    id_col: ColumnLike = "doc_id",
    keep_cluster_col: bool = False,
) -> DataFrame:
    """Quality-aware survivor selection: given per-doc cluster
    assignments (:func:`dedup_clusters` output — ``doc_id,
    cluster_id``), keep the highest-``score`` document of each
    cluster (ties → lowest id, deterministic) — real curation keeps
    the BEST copy of a near-dup set, not the lowest id.

    One join on ids + a per-cluster top-1 rank (WindowGroupLimit —
    per-partition pruning, no per-cluster materialization).
    Singletons survive trivially (their own cluster). Returns the
    surviving rows of ``df`` (plus the ``cluster_id`` column when
    ``keep_cluster_col`` — for joining survivors back to per-cluster
    stats computed from the same shared cluster table).
    """
    from pyspark.sql import Window

    joined = df.withColumn("_score", _col(score)).join(
        clusters.select(
            _col("doc_id").alias("_cid"), F.col("cluster_id")
        ),
        on=_col(id_col) == F.col("_cid"),
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("_score"), _col(id_col).asc()
    )
    drop = ["_rk", "_score", "_cid"]
    if not keep_cluster_col:
        drop.append("cluster_id")
    return (
        joined.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .drop(*drop)
    )


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: ColumnLike = "doc_id",
    text_col: ColumnLike = "text",
) -> DataFrame:
    """Snapshot delta between two corpus versions: which documents
    were ``added`` (id only in ``new``), ``removed`` (id only in
    ``old``), or ``changed`` (same id, different content digest) —
    the audit primitive behind incremental rebuilds ("what must be
    re-tokenized?") and dataset versioning reports. Unchanged
    documents produce no row.

    Scale shape: both sides reduce to (id, 16-byte md5) BEFORE the
    full-outer join — ids and digests shuffle, text never does; at
    100 TB this is one digest-keyed shuffle join, and AQE handles the
    usual id-skew cases. Complements :func:`incremental_new_docs`
    (content-level admission of NEW text regardless of id) — this is
    the id-level ledger of what happened between versions.

    Reference anchor: no analog in the reference (datasplash has no
    snapshot tooling); extension surface for LLM corpus curation
    (BASELINE.json north_star).
    """
    # presence is tracked by explicit per-side flags, NOT digest
    # nullability: md5(NULL text) is NULL, so a NULL-text document
    # must still count as present on its side (and two NULL texts
    # compare as unchanged via the null-safe digest comparison).
    o = old.select(
        _col(id_col).alias("doc_id"),
        F.md5(_col(text_col)).alias("_od"),
        F.lit(True).alias("_in_old"),
    )
    n = new.select(
        _col(id_col).alias("doc_id"),
        F.md5(_col(text_col)).alias("_nd"),
        F.lit(True).alias("_in_new"),
    )
    return (
        o.join(n, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.when(F.col("_in_old").isNull(), F.lit("added"))
            .when(F.col("_in_new").isNull(), F.lit("removed"))
            .when(~F.col("_od").eqNullSafe(F.col("_nd")), F.lit("changed"))
            .alias("status"),
        )
        .filter(F.col("status").isNotNull())
    )


def lsh_tune(
    num_hashes: int,
    threshold: float,
    fp_weight: float = 0.5,
) -> tuple[int, int]:
    """Pick ``(bands, rows_per_band)`` for the banded MinHash LSH
    whose candidate S-curve best matches a target Jaccard
    ``threshold`` — the standard banding construction (Leskovec/
    Rajaraman/Ullman, MMDS §3.4): a pair with Jaccard ``s`` becomes
    a candidate with probability ``1 - (1 - s^r)^b``.

    Driver-side arithmetic over every factorization ``b*r ==
    num_hashes``; cost = ``fp_weight * FP + (1-fp_weight) * FN``
    where FP = ∫₀ᵗ P(s) ds (below-threshold pairs that still collide
    → wasted verify work) and FN = ∫ᵗ¹ (1−P(s)) ds (true near-dups
    the bucketing misses), via a 1000-point midpoint rule. Raise
    ``fp_weight`` when the verify stage is the bottleneck, lower it
    when recall matters more.

    Use before :func:`lsh_candidate_pairs` /
    :func:`materialize_banded` instead of hand-picking bands:
    ``b, r = lsh_tune(64, 0.8); lsh_candidate_pairs(docs,
    num_hashes=64, bands=b, ...)``.
    """
    if not 0.0 < threshold < 1.0:
        raise ValueError("threshold must be in (0, 1)")
    if num_hashes <= 0:
        raise ValueError("num_hashes must be positive")
    if not 0.0 <= fp_weight <= 1.0:
        raise ValueError("fp_weight must be in [0, 1]")
    best: tuple[float, int, int] | None = None
    n_steps = 1000
    for b in range(1, num_hashes + 1):
        if num_hashes % b:
            continue
        r = num_hashes // b
        fp = fn = 0.0
        for i in range(n_steps):
            s = (i + 0.5) / n_steps
            p = 1.0 - (1.0 - s**r) ** b
            if s < threshold:
                fp += p
            else:
                fn += 1.0 - p
        cost = (fp_weight * fp + (1.0 - fp_weight) * fn) / n_steps
        if best is None or cost < best[0]:
            best = (cost, b, r)
    assert best is not None
    return best[1], best[2]


def content_manifest(
    df: DataFrame,
    shard: ColumnLike,
    text: ColumnLike = "text",
    id_col: ColumnLike = "doc_id",
) -> DataFrame:
    """Per-shard integrity manifest: row count + an ORDER-INDEPENDENT
    content digest per shard — the verification artifact a 100 TB
    training-data release ships next to its shards (re-run the
    manifest after any migration/compaction/transfer and diff;
    corruption, loss, duplication, and reordering all surface as a
    digest or count change, and the check never needs a sort).

    Digest = Σ md5_long(id ‖ 0x1f ‖ text) mod (2^61 − 1) — an
    integer sum of per-row 60-bit hashes, so it is independent of
    row order and partitioning (engine-exact; Σ mod p in BIGINT:
    each addend < 2^61, partial sums reduced mod p per row via the
    aggregate below... computed as sum over md5_long values in
    decimal(38,0) then one mod — exact to ~1e20 rows/shard).
    Returns ``(shard, n_rows, digest)``.

    Reference anchor: no analog; training-data release tooling
    (BASELINE.json north_star).
    """
    row_h = md5_long(
        F.concat_ws("\x1f", _col(id_col).cast("string"), _col(text))
    )
    return (
        df.groupBy(_col(shard).alias("shard"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.pmod(
                F.sum(row_h.cast("decimal(38,0)")),
                F.lit(MERSENNE61).cast("decimal(38,0)"),
            )
            .cast("long")
            .alias("digest"),
        )
    )


def remove_boilerplate_lines(
    df: DataFrame,
    min_docs: int = 3,
    text: ColumnLike = "text",
    id_col: ColumnLike = "doc_id",
    strategy: str = "join",
    sep: str = "\n",
) -> DataFrame:
    """CORPUS-frequency line removal (CCNet / C4 boilerplate pass,
    Wenzek et al. 2020): a line is boilerplate iff it occurs in
    ``>= min_docs`` DISTINCT documents ("subscribe to our
    newsletter", cookie banners, nav bars); every occurrence is
    dropped from every document, remaining lines keep their order.
    Complements :func:`..text.dedup_lines`, which is within-doc
    only. Empty lines are structural, not content: they are never
    counted and never removed. Returns ``(doc_id, clean_text,
    n_lines_in, n_lines_out)``.

    Physical shape — text never shuffles in the frequency pass:
    lines explode to ``(doc_id, pos, md5-digest)`` (16-byte
    digests), per-doc-distinct digests aggregate to the boilerplate
    set, and removal is per-row array surgery:

    - ``strategy="join"`` (default, scale-safe): boilerplate
      OCCURRENCE positions group per doc and left-join back on
      ``doc_id``; the source rows shuffle at most once, and AQE
      broadcasts the position table when it is small (it holds only
      boilerplate hits, not all lines). Removal is an index filter
      against the per-doc bad-position set.
    - ``strategy="broadcast"``: the DISTINCT boilerplate digests
      collapse to one array broadcast to every row — ZERO shuffle of
      the source. Right when the distinct boilerplate vocabulary is
      bounded (it usually is: by definition each entry occurs
      ``>= min_docs`` times, so distinct count <= total_lines /
      min_docs); wrong when that array outgrows driver/executor
      memory — prefer ``"join"`` at unknown scale.

    ``sep`` picks the removal granularity: the default ``"\\n"`` is
    line-level (CCNet); ``"\\n\\n"`` gives PARAGRAPH-level removal
    (C4's unit for its dedup pass) with no other change — the
    frequency/removal machinery is granularity-agnostic.

    Reference anchor: no analog in datasplash; LLM-pipeline
    extension surface (BASELINE.json north_star).
    """
    if min_docs < 2:
        raise ValueError("min_docs must be >= 2 (1 would drop every line)")
    if strategy not in ("join", "broadcast"):
        raise ValueError(f"unknown strategy: {strategy!r}")
    if not sep:
        raise ValueError("sep must be non-empty")

    import re as _re

    units = (
        doc_lines(text)
        if sep == "\n"
        else F.split(_col(text), _re.escape(sep), -1)
    )
    base = df.select(
        _col(id_col).alias("doc_id"), units.alias("_lines")
    )
    occ = (
        base.select("doc_id", F.posexplode("_lines"))
        .where(F.col("col") != "")
        .select("doc_id", "pos", md5_long(F.col("col")).alias("_d"))
    )
    bad = (
        occ.select("doc_id", "_d")
        .distinct()
        .groupBy("_d")
        .agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") >= F.lit(min_docs))
        .select("_d")
    )

    if strategy == "broadcast":
        bad_arr = bad.agg(
            F.sort_array(F.collect_list("_d")).alias("_bad_digests")
        )
        joined = base.crossJoin(F.broadcast(bad_arr))
        kept = F.filter(
            F.col("_lines"),
            lambda x: (x == F.lit(""))
            | ~F.array_contains(F.col("_bad_digests"), md5_long(x)),
        )
    else:
        bad_pos = (
            occ.join(bad, "_d")
            .groupBy("doc_id")
            .agg(F.collect_set("pos").alias("_bad_pos"))
        )
        joined = base.join(bad_pos, "doc_id", "left")
        empty = F.array().cast("array<int>")
        kept = F.filter(
            F.col("_lines"),
            lambda x, i: ~F.array_contains(
                F.coalesce(F.col("_bad_pos"), empty), i
            ),
        )
    return joined.select(
        "doc_id",
        F.array_join(kept, sep).alias("clean_text"),
        F.size("_lines").cast("long").alias("n_lines_in"),
        F.size(kept).cast("long").alias("n_lines_out"),
    )


def canary_string(tag: ColumnLike, seed: int = 0) -> Column:
    """Deterministic canary token for ``tag``: a 32-hex md5 of
    (seed ‖ tag) wrapped in an unambiguous sentinel —
    ``⟦CANARY:<hex>⟧``-style but pure ASCII: ``[[CANARY-<hex>]]``.
    Unique, incompressible, and never colliding with natural text."""
    return F.concat(
        F.lit("[[CANARY-"),
        F.md5(F.concat(F.lit(str(seed) + "\x1f"), _col(tag).cast("string"))),
        F.lit("]]"),
    )


def insert_canaries(
    df: DataFrame,
    every: int = 100,
    seed: int = 0,
    text: ColumnLike = "text",
    id_col: ColumnLike = "doc_id",
) -> DataFrame:
    """Dataset TRACING canaries (memorization / leak probes, the
    release-tooling companion of :func:`content_manifest`): every
    ``every``-th document (by ``md5(seed‖id) % every == 0`` — a
    deterministic, uniformly spread choice, not id arithmetic)
    gets a unique :func:`canary_string` appended. Re-running with
    the same seed reproduces the exact canary set; a different
    seed traces a different release. Returns the corpus with
    ``text`` rewritten plus a ``canary`` column (NULL for
    untouched docs). Detection after the corpus round-trips
    through shuffles/packs/training sets is
    :func:`detect_canaries` — containment, not equality, so
    truncation/concatenation don't hide it.

    Reference anchor: no analog; release-tooling extension surface
    (BASELINE.json north_star)."""
    if every < 1:
        raise ValueError("every must be positive")
    if not isinstance(text, str):
        raise ValueError("insert_canaries requires text as a column NAME")
    pick = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(str(seed) + "\x1f"),
                        _col(id_col).cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % F.lit(every)
        == 0
    )
    canary = canary_string(id_col, seed)
    return df.withColumn(
        text,
        F.when(pick, F.concat(F.col(text), F.lit(" "), canary)).otherwise(
            F.col(text)
        ),
    ).withColumn(
        "canary",
        F.when(pick, canary).otherwise(F.lit(None).cast("string")),
    )


def detect_canaries(
    df: DataFrame,
    expected: DataFrame,
    text: ColumnLike = "text",
    id_col: ColumnLike = "doc_id",
) -> DataFrame:
    """Scan a corpus for planted canaries: ``expected`` is the
    ``(doc_id, canary)`` table :func:`insert_canaries` produced
    (non-NULL rows). Returns one row per expected canary with
    ``found`` (seen in ANY document) and ``n_docs`` carrying it —
    >1 means the canary leaked across documents (a span-copy or
    packing bug), 0 means the release lost it.

    Scale shape — EXTRACTION, not containment scanning: canaries
    have a fixed sentinel syntax, so one ``regexp_extract_all``
    pulls every canary-shaped token out of the corpus (linear, one
    scan) and the match is an EQUI-join on the token (a containment
    predicate against the expected set would be a broadcast
    nested-loop — |corpus| × |canaries| comparisons, quadratic-ish
    at release scale). Truncation/concatenation still can't hide a
    hit: any intact canary token is extracted wherever it sits."""
    exp = expected.select(
        _col(id_col).alias("src_doc_id"), F.col("canary")
    ).where(F.col("canary").isNotNull())
    found_tokens = df.select(
        _col(id_col).alias("_carrier_doc"),
        F.explode(
            F.regexp_extract_all(
                _col(text),
                F.lit(r"\[\[CANARY-[0-9a-f]{32}\]\]"),
                0,
            )
        ).alias("canary"),
    )
    # countDistinct over the CARRIER doc id: a doc containing the
    # same canary twice (in-doc span repeat) is one carrier, not a
    # phantom cross-document leak (ADVICE r6).
    hits = (
        found_tokens.join(exp.hint("broadcast"), "canary")
        .groupBy("src_doc_id", "canary")
        .agg(F.countDistinct("_carrier_doc").alias("n_docs"))
    )
    return (
        exp.join(hits, ["src_doc_id", "canary"], "left")
        .select(
            "src_doc_id",
            "canary",
            F.coalesce(F.col("n_docs"), F.lit(0)).cast("long").alias(
                "n_docs"
            ),
            (F.coalesce(F.col("n_docs"), F.lit(0)) > 0).alias("found"),
        )
    )


def explain_pair(
    df: DataFrame,
    id_a,
    id_b,
    text: ColumnLike = "text",
    id_col: ColumnLike = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    k: int = 3,
    seed: int = 42,
) -> DataFrame:
    """Debug ONE candidate pair: why did (or didn't) these two docs
    pair? One row with every signal the dedup stack uses —
    shingle counts, shared shingles, exact Jaccard, how many LSH
    bands collide under the given (num_hashes, bands, seed),
    SimHash Hamming distance, and Levenshtein distance/ratio — the
    threshold-tuning companion of :func:`lsh_tune` (that one is
    corpus-statistical; this one is a microscope for a single
    pair). Driver-friendly by construction: the scan prunes to two
    ids, everything downstream is two rows wide.

    Reference anchor: no analog; curation-debug extension surface
    (BASELINE.json north_star). Signatures come from the SCALE-PATH
    builders (``minhash_signatures`` / ``simhash_signatures``) joined
    onto the two-row base — the pure-Column forms re-inline the
    shingle/token subtree per permutation/bit, which cost ~20 s of
    pure plan analysis per call (round-10 fix; the joins are 2-row
    trivia at runtime)."""
    pruned = df.filter(_col(id_col).isin([id_a, id_b]))
    base = pruned.select(
        _col(id_col).alias("doc_id"),
        shingles(text, k).alias("_sh"),
        _col(text).alias("_t"),
    )
    sigs = minhash_signatures(pruned, text, id_col, num_hashes, k, seed)
    sims = simhash_signatures(pruned, text, id_col)
    rows = (
        base.join(sigs, "doc_id")
        .join(sims, "doc_id")
        .select(
            "doc_id",
            "_sh",
            F.col("signature").alias("_sig"),
            F.col("simhash").alias("_sim"),
            "_t",
        )
    )
    a = rows.filter(F.col("doc_id") == id_a).alias("a")
    b = rows.filter(F.col("doc_id") == id_b).alias("b")
    rows_per_band = num_hashes // bands
    band_hits = sum(
        (
            F.when(
                F.slice(F.col("a._sig"), i * rows_per_band + 1, rows_per_band)
                == F.slice(
                    F.col("b._sig"), i * rows_per_band + 1, rows_per_band
                ),
                1,
            ).otherwise(0)
            for i in range(bands)
        ),
        F.lit(0),
    )
    inter = F.size(F.array_intersect(F.col("a._sh"), F.col("b._sh")))
    union = F.size(F.array_union(F.col("a._sh"), F.col("b._sh")))
    maxlen = F.greatest(
        F.length(F.col("a._t")), F.length(F.col("b._t"))
    )
    dist = F.levenshtein(F.col("a._t"), F.col("b._t"))
    return a.crossJoin(b).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.size(F.col("a._sh")).cast("long").alias("n_shingles_a"),
        F.size(F.col("b._sh")).cast("long").alias("n_shingles_b"),
        inter.cast("long").alias("n_shared_shingles"),
        F.when(union > 0, inter / union).otherwise(F.lit(0.0)).alias(
            "jaccard"
        ),
        band_hits.cast("long").alias("lsh_bands_colliding"),
        hamming64(F.col("a._sim"), F.col("b._sim"))
        .cast("long")
        .alias("simhash_hamming"),
        dist.cast("long").alias("edit_distance"),
        F.when(maxlen > 0, dist / maxlen).otherwise(F.lit(0.0)).alias(
            "edit_ratio"
        ),
    )


def word_paragraphs(text: ColumnLike, words_per_para: int = 10) -> Column:
    """Re-chunk a flat word stream into fixed-width pseudo-paragraphs
    (``words_per_para`` words each, last one ragged) — the synthetic
    paragraph source for corpora whose text carries no newlines.
    Pure array expressions: split → index sequence → slice+join per
    chunk; no shuffle, no Python."""
    t = _col(text)
    ws = F.split(t, " ")
    return F.transform(
        F.sequence(F.lit(0), F.size(ws) - 1, F.lit(int(words_per_para))),
        lambda i: F.array_join(
            F.slice(ws, i + 1, F.lit(int(words_per_para))), " "
        ),
    )


def dedup_paragraphs(
    df: DataFrame,
    paras: ColumnLike,
    id_col: ColumnLike = "doc_id",
) -> DataFrame:
    """Cross-corpus EXACT paragraph dedup with keep-first semantics
    (the CCNet/C4 paragraph pass, one granularity below document
    dedup): explode the paragraph arrays, digest each paragraph to
    md5, and keep exactly the occurrence with the smallest
    ``(doc_id, para_idx)`` per digest. Returns one row per paragraph
    occurrence: ``(doc_id, para_idx, para_digest, keep)`` — filter
    ``keep`` and re-join/re-assemble per doc, or aggregate for a
    dedup report.

    Scale: ONE shuffle, and it is digest-keyed — the window
    partitions by the 16-byte md5 (never the paragraph text; texts
    stay where they exploded) and each partition is one duplicate
    set, so skew is bounded by the most-duplicated paragraph (the
    boilerplate case — exactly what CCNet measures; a pathological
    mega-cluster only ranks within itself). No corpus-scale join
    back: `keep` is decided in the window projection.

    Reference anchor: distinct-by (core.clj:1182) is the
    document-level cousin; paragraph granularity is north-star
    extension surface."""
    from pyspark.sql import Window

    src = df.select(
        _col(id_col).alias("doc_id"),
        F.posexplode(_col(paras)).alias("para_idx", "_para"),
    ).select(
        "doc_id",
        "para_idx",
        F.md5(F.col("_para")).alias("para_digest"),
    )
    w = (
        Window.partitionBy("para_digest")
        .orderBy(F.col("doc_id").asc(), F.col("para_idx").asc())
    )
    return src.select(
        "doc_id",
        "para_idx",
        "para_digest",
        (F.row_number().over(w) == 1).alias("keep"),
    )


def bitstring64_to_long(bits: ColumnLike) -> Column:
    """Parse a 64-char '0'/'1' string (e.g. :func:`multimodal.
    image_ahash`'s output) into one BIGINT, exactly — two 32-bit
    ``conv`` halves recombined by shift (a single 64-bit conv would
    overflow the signed cast for MSB-set values)."""
    b = _col(bits)
    hi = F.conv(F.substring(b, 1, 32), 2, 10).cast("long")
    lo = F.conv(F.substring(b, 33, 32), 2, 10).cast("long")
    return F.shiftleft(hi, 32).bitwiseOR(lo)


def hamming_band_pairs(
    df: DataFrame,
    sig: ColumnLike,
    max_hamming: int,
    bits: int = 64,
    id_col: ColumnLike = "doc_id",
    cache: bool = False,
) -> DataFrame:
    """Near-duplicate pairs from FIXED-WIDTH Hamming signatures
    (simhash for text, aHash for images — any ``bits``-wide BIGINT):
    band each signature into ``max_hamming + 1`` contiguous slices,
    bucket-join on identical (band, slice) values, then verify exact
    Hamming distance. By pigeonhole, two signatures within
    ``max_hamming`` differ in at most ``max_hamming`` bands, so they
    MATCH in at least one of ``max_hamming + 1`` — zero false
    negatives; the bucket join is the linear-plus-collisions path
    (never all-pairs), the same posture as minhash banding. Returns
    ``(a, b, hamming)`` with ``a < b``.

    Scale: the shuffle carries (id, band, slice) triples —
    signature-width integers, never content; intra-bucket work is
    quadratic only in per-bucket collisions (ordinary-corpus buckets
    are tiny; an adversarial all-identical corpus degenerates to its
    true pair count, which is the output size anyway).

    ``cache=True`` persists the narrow banded table so the signature
    pipeline UPSTREAM of ``df`` executes once instead of once per
    self-join side — the same knob :func:`lsh_candidate_pairs` has;
    use it whenever the signatures come from real work (a codec, a
    model) rather than a column read.

    Reference anchor: distinct-by (core.clj:1182) is the exact-key
    cousin; Hamming banding is north-star extension surface."""
    if max_hamming < 0:
        raise ValueError("hamming_band_pairs: max_hamming must be >= 0")
    n_bands = int(max_hamming) + 1
    width = bits // n_bands
    if width < 1:
        raise ValueError(
            f"hamming_band_pairs: {n_bands} bands do not fit {bits} bits"
        )
    s = _col(sig)
    # band slice b: bits [b*width, ...) — last band takes the remainder
    slices = []
    for b in range(n_bands):
        take = bits - b * width if b == n_bands - 1 else width
        sliced = F.shiftrightunsigned(s, b * width)
        if take < 64:
            # a full-width band (max_hamming=0, bits=64) needs no
            # mask — and its (1<<64)-1 mask would not fit a long lit
            sliced = sliced.bitwiseAND(F.lit((1 << take) - 1))
        slices.append(
            F.struct(F.lit(b).alias("band"), sliced.alias("slice"))
        )
    banded = df.select(
        _col(id_col).alias("_id"), s.alias("_sig"),
        F.explode(F.array(*slices)).alias("_b"),
    ).select("_id", "_sig", F.col("_b.band").alias("band"),
             F.col("_b.slice").alias("slice"))
    if cache:
        banded = banded.persist()
    left = banded.select(
        F.col("_id").alias("a"), F.col("_sig").alias("_sa"), "band", "slice"
    )
    right = banded.select(
        F.col("_id").alias("b"), F.col("_sig").alias("_sb"), "band", "slice"
    )
    pairs = (
        left.join(right, ["band", "slice"])
        .where(F.col("a") < F.col("b"))
        .select("a", "b", hamming64("_sa", "_sb").alias("hamming"))
        .where(F.col("hamming") <= int(max_hamming))
        .distinct()
    )
    return pairs


def apply_paragraph_dedup(
    df: DataFrame,
    paras: ColumnLike,
    id_col: ColumnLike = "doc_id",
    sep: str = "\n",
) -> DataFrame:
    """REBUILD documents after cross-corpus paragraph dedup: the
    cleaning-pipeline half of :func:`dedup_paragraphs` (which emits
    the keep/drop report without ever shuffling text). Keep decisions
    come from the same one-digest-shuffle window; the kept
    ``(doc_id, para_idx)`` pairs then join back to the exploded
    paragraphs co-partitioned on ``doc_id``, and the surviving
    paragraphs reassemble in positional order. Returns ``(doc_id,
    text, n_paras, n_kept)`` — docs whose every paragraph was seen
    earlier come back with empty text (filter on ``n_kept`` to drop
    them).

    Scale: two shuffles — the digest window (16-byte keys) and the
    doc_id join-back/reassembly. The join-back moves paragraph text
    once, which is unavoidable for a rebuild (the report-only op
    stays one-shuffle; use it when you only need counts). The
    reassembly aggregate sorts within each doc by index — doc-sized
    groups, no global sort."""
    exploded = df.select(
        _col(id_col).alias("doc_id"),
        F.posexplode(_col(paras)).alias("para_idx", "para"),
    )
    keep = dedup_paragraphs(df, paras, id_col=id_col).where("keep").select(
        "doc_id", "para_idx"
    )
    kept = exploded.join(keep, ["doc_id", "para_idx"], "left_semi")
    rebuilt = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("para_idx", "para"))
                ),
                lambda s: s["para"],
            ),
            sep,
        ).alias("text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    totals = exploded.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_paras")
    )
    return totals.join(rebuilt, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("text"), F.lit("")).alias("text"),
        "n_paras",
        F.coalesce(F.col("n_kept"), F.lit(0)).alias("n_kept"),
    )
