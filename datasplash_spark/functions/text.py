"""Text-analysis functions for large-scale training-data pipelines.

Beyond the reference's surface (SURVEY.md §2.9: datasplash has no
scalar function library — users call Clojure inside ``map``); these are
the LLM-data-pipeline extensions (BASELINE.json north_star), built as
pure Column expressions so they run JVM-side under whole-stage codegen
at 100 TB — no Python in the hot path.

Cross-engine determinism: every function here has an exact DuckDB SQL
equivalent (used by the oracle harness), so hashes/scores match
bit-for-bit across engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..operators.elementwise import ColumnLike, _col
from ..pipeline import local_table, read_parquet_memo

#: tiny per-language stopword lists for the n-gram/stopword language
#: heuristic. Deliberately small + deterministic (oracle replicates).
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "with"],
    "fr": ["le", "la", "et", "les", "des", "est", "dans", "une"],
    "de": ["der", "die", "und", "das", "nicht", "ist", "mit", "ein"],
    "es": ["el", "los", "de", "que", "y", "en", "una", "por"],
}


#: word runs + single punctuation; whitespace spelled out because the
#: \s class differs between Java regex (Spark) and RE2 (DuckDB)
BPE_ISH_PATTERN = r"\w+|[^\w\t\n\x0B\f\r ]"


def tokens(text: ColumnLike) -> Column:
    """Whitespace tokenization (lowercased). Matches DuckDB
    ``string_split(lower(text), ' ')`` exactly — single-space split,
    empties preserved — so oracle comparisons are bit-exact."""
    return F.split(F.lower(_col(text)), " ")


def token_count(text: ColumnLike) -> Column:
    """Whitespace token count."""
    return F.size(tokens(text))


def bpe_ish_token_count(text: ColumnLike) -> Column:
    """BPE-ish token estimate: maximal word-char runs plus single
    non-space punctuation chars — a deterministic stand-in for a real
    BPE vocab (which would be a broadcast lookup at scale). The
    pattern is RE2-safe (no lookarounds) and spells out the whitespace
    class explicitly — Java's ``\\s`` includes vertical tab, RE2's
    does not — so the DuckDB oracle
    (``len(regexp_extract_all(text, ...))``) matches exactly."""
    return F.regexp_count(_col(text), F.lit(BPE_ISH_PATTERN))


def punct_ratio(text: ColumnLike) -> Column:
    """Punctuation chars / total chars (0 for empty text)."""
    c = _col(text)
    n = F.length(c)
    punct = n - F.length(F.regexp_replace(c, r"[!-/:-@\[-`{-~]", ""))
    return F.when(n > 0, punct.cast("double") / n.cast("double")).otherwise(0.0)


def stopword_ratio(text: ColumnLike, lang: str = "en") -> Column:
    """Fraction of tokens that are stopwords of ``lang``."""
    toks = tokens(text)
    hits = F.size(
        F.filter(toks, lambda t: t.isin(*LANG_STOPWORDS[lang]))
    )
    n = F.size(toks)
    return F.when(n > 0, hits.cast("double") / n.cast("double")).otherwise(0.0)


def quality_score(text: ColumnLike) -> Column:
    """Composite quality heuristic in [0, 1]: length band + low
    punctuation + stopword presence. Deterministic, oracle-exact."""
    c = _col(text)
    n = F.length(c)
    len_ok = F.when((n >= 50) & (n <= 20000), F.lit(0.4)).otherwise(0.0)
    punct_ok = F.when(punct_ratio(c) < 0.2, F.lit(0.3)).otherwise(0.0)
    stop_ok = F.when(stopword_ratio(c) > 0.05, F.lit(0.3)).otherwise(0.0)
    return len_ok + punct_ok + stop_ok


def lang_scores(text: ColumnLike) -> dict[str, Column]:
    """Per-language stopword-hit counts over distinct tokens."""
    toks = F.array_distinct(tokens(text))
    return {
        lang: F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in words])))
        for lang, words in LANG_STOPWORDS.items()
    }


def lang_id(text: ColumnLike) -> Column:
    """Stopword-overlap language ID over {en, fr, de, es}; ``und`` when
    nothing matches. Ties break in fixed lang order (en<fr<de<es) —
    replicated exactly by the oracle's chained CASE."""
    scores = lang_scores(text)
    best = None
    best_score = None
    # build nested CASE: pick first lang with maximal score
    ordered = list(scores.items())
    max_score = ordered[0][1]
    for _, s in ordered[1:]:
        max_score = F.greatest(max_score, s)
    expr = F.lit("und")
    for lang, s in reversed(ordered):
        expr = F.when((s == max_score) & (max_score > 0), F.lit(lang)).otherwise(expr)
    return expr


#: Unicode-script character classes for :func:`script_profile` —
#: BMP ranges only (regex-safe in both Java and RE2), ordered; the
#: classes are disjoint so the counts partition ``n_chars`` exactly.
_SCRIPT_CLASSES: tuple[tuple[str, str], ...] = (
    # U+00C0–U+024F minus the two math signs × (D7) ÷ (F7)
    ("latin", "[A-Za-zÀ-ÖØ-öø-ɏ]"),
    ("digit", "[0-9]"),
    ("space", r"[ \t\r\n]"),
    ("cjk", "[぀-ヿ㐀-䶿一-鿿가-힯]"),
    ("cyrillic", "[Ѐ-ӿ]"),
    ("arabic", "[؀-ۿ]"),
)


def script_profile(
    df,
    text: ColumnLike = "text",
    id_col: ColumnLike = "doc_id",
) -> DataFrame:
    """Per-document Unicode-script histogram — the multilingual-
    curation complement of :func:`lang_id` (which only separates
    Latin-script languages): counts of Latin, digit, whitespace,
    CJK (kana+han+hangul), Cyrillic, and Arabic characters, the
    ``other`` remainder, and ``nonlatin_micro`` = non-Latin letters
    per million non-space characters — the routing signal for
    script-specific pipelines and the tripwire for mojibake /
    mixed-script spam (a nominally-English corpus with
    ``nonlatin_micro`` spikes has an encoding problem).

    Each count is ``length(text) - length(regexp_replace(text,
    class, ''))`` — one stateless scan, seven regex passes per row,
    no shuffle, no Python; the classes are disjoint BMP ranges so
    the counts partition ``n_chars`` exactly (pinned by the unit
    test). Flat per-row work at any corpus size.

    Reference anchor: no analog; LLM-pipeline extension surface
    (BASELINE.json north_star)."""
    t = F.coalesce(_col(text), F.lit(""))
    total = F.length(t)

    def cnt(pattern: str) -> Column:
        return total - F.length(F.regexp_replace(t, pattern, ""))

    counts = {name: cnt(p) for name, p in _SCRIPT_CLASSES}
    known = None
    for c in counts.values():
        known = c if known is None else known + c
    nonspace = total - counts["space"]
    nonlatin = nonspace - counts["latin"] - counts["digit"]
    return df.select(
        _col(id_col).alias("doc_id"),
        total.cast("long").alias("n_chars"),
        *[counts[n].cast("long").alias(f"n_{n}") for n, _ in _SCRIPT_CLASSES],
        (total - known).cast("long").alias("n_other"),
        F.when(
            nonspace > 0,
            # floor of the identical IEEE quotient — engine-exact
            # (the pagerank discipline; numerator < 2^53 so the
            # double is the exact integer)
            F.floor(
                (nonlatin.cast("long") * F.lit(1_000_000)) / nonspace
            ),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("nonlatin_micro"),
    )


def fingerprint(text: ColumnLike) -> Column:
    """Document fingerprint: md5 over the sorted distinct token bag.
    Robust to word order (bag-of-words identity); oracle-exact via
    DuckDB ``md5(array_to_string(list_sort(...), ' '))``."""
    toks = F.array_sort(F.array_distinct(tokens(text)))
    return F.md5(F.array_join(toks, " "))


def tf_idf(df, text: ColumnLike = "text", id_col: ColumnLike = "doc_id"):
    """Corpus TF-IDF: one ``(doc_id, term, tf, dfq, tfidf)`` row per
    distinct (document, term). ``tfidf = tf * ln(n_docs / dfq)``.

    Scale shape (all relational, no Python):

    - explode(tokens) → groupBy(doc, term).count(): the tf table,
      partial-aggregated map-side before its one shuffle. NOT
      persisted, deliberately: the tf table is corpus-sized (every
      distinct (doc, term) pair), so caching it costs more in
      serialization + memory pressure than re-running the tokenize
      subtree for the vocabulary-sized dfq aggregate (measured at
      sf0.1: persist made the query 25% slower warm, 3x colder).
      Contrast :func:`unigram_doc_scores`, where the persisted unit
      is the same size but saves TWO extra tokenize passes.
    - document frequency = groupBy(term).count() over the tf table
      (already distinct per doc) — vocabulary-sized output.
    - corpus size joins in as a broadcast single-row aggregate (kept
      lazy — no driver action in the plan).
    - tf ⋈ dfq on term: vocabulary is ≪ corpus, AQE broadcasts it for
      moderate vocabularies; for web-scale vocab the shuffle join on
      the natural key is the right fallback.
    """
    from pyspark.sql import DataFrame  # noqa: F401  (doc typing only)

    toks = df.select(
        _col(id_col).alias("doc_id"),
        F.explode(tokens(text)).alias("term"),
    ).filter(F.col("term") != "")
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("dfq"))
    n_docs = df.select(F.count(F.lit(1)).alias("n_docs"))
    return (
        tf.join(dfreq, on="term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            "tf",
            "dfq",
            (
                F.col("tf")
                * F.log(F.col("n_docs").cast("double") / F.col("dfq"))
            ).alias("tfidf"),
        )
    )


def doc_lines(text: ColumnLike) -> Column:
    """Lines of the document (literal newline split — DuckDB
    ``string_split(text, chr(10))``)."""
    return F.split(_col(text), "\n", -1)


def mean_word_length(text: ColumnLike) -> Column:
    """Mean length of non-empty whitespace tokens; 0 for no tokens.
    (Gopher-style quality signal: real prose sits in ~3-10.)"""
    toks = F.filter(tokens(text), lambda t: t != F.lit(""))
    n = F.size(toks)
    total = F.aggregate(
        F.transform(toks, F.length), F.lit(0).cast("long"), lambda acc, x: acc + x
    )
    return F.when(n == 0, F.lit(0.0)).otherwise(
        total.cast("double") / n.cast("double")
    )


def repeated_line_ratio(text: ColumnLike) -> Column:
    """Fraction of lines that are duplicates of an earlier line
    (Gopher repetition signal): 1 - distinct/total; 0 for no lines."""
    ln = doc_lines(text)
    n = F.size(ln)
    return F.when(n == 0, F.lit(0.0)).otherwise(
        F.lit(1.0) - F.size(F.array_distinct(ln)).cast("double") / n.cast("double")
    )


def bullet_line_ratio(text: ColumnLike) -> Column:
    """Fraction of lines whose left-trimmed text starts with a bullet
    ('-' or '*'). Bullet-dominated docs are list scrapes, not prose."""
    ln = doc_lines(text)
    n = F.size(ln)
    bullets = F.size(
        F.filter(
            ln,
            lambda l: F.ltrim(l).startswith("-") | F.ltrim(l).startswith("*"),
        )
    )
    return F.when(n == 0, F.lit(0.0)).otherwise(
        bullets.cast("double") / n.cast("double")
    )


def ellipsis_line_ratio(text: ColumnLike) -> Column:
    """Fraction of lines ending in '...' (truncated-scrape signal)."""
    ln = doc_lines(text)
    n = F.size(ln)
    ell = F.size(F.filter(ln, lambda l: F.rtrim(l).endswith("...")))
    return F.when(n == 0, F.lit(0.0)).otherwise(
        ell.cast("double") / n.cast("double")
    )


def gopher_quality_pass(
    text: ColumnLike,
    min_tokens: int = 10,
    max_tokens: int = 100000,
    min_mean_word_len: float = 2.0,
    max_mean_word_len: float = 12.0,
    max_bullet_ratio: float = 0.9,
    max_ellipsis_ratio: float = 0.3,
    max_repeated_line_ratio: float = 0.3,
) -> Column:
    """Gopher-style composite quality gate (Rae et al. 2021, "Scaling
    Language Models: ... Gopher", table A1 — public heuristics),
    evaluated entirely JVM-side as one boolean Column. Thresholds are
    parameters; defaults are loosened for short synthetic test docs.
    """
    t = _col(text)
    ntok = F.size(F.filter(tokens(t), lambda x: x != F.lit("")))
    mwl = mean_word_length(t)
    return (
        (ntok >= min_tokens)
        & (ntok <= max_tokens)
        & (mwl >= min_mean_word_len)
        & (mwl <= max_mean_word_len)
        & (bullet_line_ratio(t) <= max_bullet_ratio)
        & (ellipsis_line_ratio(t) <= max_ellipsis_ratio)
        & (repeated_line_ratio(t) <= max_repeated_line_ratio)
    )


def chunk_documents(
    df,
    chunk_tokens: int = 64,
    overlap: int = 8,
    text: ColumnLike = "text",
    id_col: ColumnLike = "doc_id",
):
    """Split documents into fixed-token-budget chunks with overlap —
    the standard LLM-training preprocessing step between cleaning and
    tokenization. One explode, all Column expressions (slice over the
    token array): linear, no shuffle, no Python.

    Chunk i covers tokens ``[i*step, i*step + chunk_tokens)`` with
    ``step = chunk_tokens - overlap``; every doc yields ≥ 1 chunk
    (short docs → one short chunk). Output:
    ``(doc_id, chunk_id, n_chunk_tokens, chunk_text)``.
    """
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be < chunk_tokens")
    step = chunk_tokens - overlap
    toks = F.split(_col(text), " ")
    n = F.size(toks)
    n_chunks = F.greatest(
        F.lit(1), F.ceil((n - F.lit(overlap)).cast("double") / step)
    ).cast("int")
    return (
        df.select(
            _col(id_col).alias("doc_id"),
            toks.alias("_t"),
            F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
        )
        .select(
            "doc_id",
            "chunk_id",
            F.slice(
                F.col("_t"), F.col("chunk_id") * step + 1, chunk_tokens
            ).alias("_c"),
        )
        .select(
            "doc_id",
            "chunk_id",
            F.size("_c").alias("n_chunk_tokens"),
            F.array_join("_c", " ").alias("chunk_text"),
        )
    )


def normalize_text(text: ColumnLike) -> Column:
    """Canonical text for near-exact dedup: lowercase, strip
    punctuation, collapse whitespace runs, trim. Catches the
    reformatted-repost class of duplicates that byte-exact digests
    miss while staying a pure Column expression (one pass, no Python).
    Compose with digests: ``F.md5(normalize_text("text"))``.

    DuckDB equivalent (oracle-exact):
    ``trim(regexp_replace(regexp_replace(lower(text),
    '[!-/:-@\\[-`{-~]', '', 'g'), '[\\t\\n\\x0B\\f\\r ]+', ' ', 'g'))``.
    """
    t = F.lower(_col(text))
    t = F.regexp_replace(t, r"[!-/:-@\[-`{-~]", "")
    t = F.regexp_replace(t, r"[\t\n\x0B\f\r ]+", " ")
    return F.trim(t)


def bigram_counts(
    df,
    text: ColumnLike = "text",
    min_count: int = 1,
):
    """Adjacent-token bigram counts ``(ta, tb, n_ab)`` — the raw
    co-occurrence table behind :func:`bigram_pmi`, exposed for graph
    consumers (TextRank edges, Markov chains). Zip-shift adjacency
    per row (no self-join), one vocab-bounded partial-agg shuffle."""
    toklists = df.select(
        F.filter(tokens(text), lambda x: x != "").alias("l")
    )
    return (
        toklists.select(
            F.explode(
                F.zip_with(
                    F.slice(
                        F.col("l"), 1, F.greatest(F.size("l") - 1, F.lit(0))
                    ),
                    F.slice(
                        F.col("l"), 2, F.greatest(F.size("l") - 1, F.lit(0))
                    ),
                    lambda x, y: F.struct(x.alias("ta"), y.alias("tb")),
                )
            ).alias("bg")
        )
        .groupBy("bg.ta", "bg.tb")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= int(min_count))
    )


def bigram_pmi(
    df,
    text: ColumnLike = "text",
    id_col: ColumnLike = "doc_id",
    min_count: int = 5,
):
    """Corpus-level collocation mining: pointwise mutual information
    of ADJACENT token pairs, ``pmi = ln((c_ab/Nb) / ((c_a/N)·(c_b/N)))``
    — the classic multi-word-expression / named-entity signal (high
    PMI = the pair co-occurs far above chance: "san francisco", "et
    al"). Returns ``(term_a, term_b, n_ab, pmi_nano)`` for pairs with
    ``n_ab >= min_count``; ``pmi_nano`` is round(pmi·1e9) BIGINT (one
    libm ``ln`` per surviving PAIR on exact-rational inputs — the
    same fixed-point discipline as :func:`unigram_logprob_table`, so
    the value is engine-stable).

    Shape: the narrow ``(doc_id, tokens[])`` projection is persisted
    and BOTH count passes read it (text tokenizes once — at 100 TB
    the tokenize explode is the dominant cost); bigrams come from a
    per-row ``zip_with`` of the array with its own shift (NO
    self-join, no shuffle to form adjacency); unigram and bigram
    counts are each one partial-agg shuffle; the two vocab-sized
    unigram joins onto the (filtered, min_count-pruned) bigram table
    are hash joins that AQE broadcasts when the vocab allows.

    Reference anchor: no analog (Beam ships no text analytics);
    LLM-pipeline extension surface (BASELINE.json north_star).
    """
    from pyspark import StorageLevel

    toklists = (
        df.select(
            _col(id_col).alias("doc_id"),
            F.filter(tokens(text), lambda x: x != "").alias("l"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    uni = (
        toklists.select(F.explode("l").alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n_tok = uni.agg(F.sum("c").alias("n_tok"))
    bigrams = toklists.select(
        F.explode(
            F.zip_with(
                F.slice(F.col("l"), 1, F.greatest(F.size("l") - 1, F.lit(0))),
                F.slice(F.col("l"), 2, F.greatest(F.size("l") - 1, F.lit(0))),
                lambda a, b: F.struct(a.alias("ta"), b.alias("tb")),
            )
        ).alias("bg")
    ).select("bg.ta", "bg.tb")
    bg_counts = (
        bigrams.groupBy("ta", "tb")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= int(min_count))
    )
    # total bigrams WITHOUT a second explode pass (r14, guide §2.3):
    # each doc contributes exactly max(|l| - 1, 0) bigrams — the
    # zip-shift's own length — so the corpus total is one arithmetic
    # aggregate over the persisted narrow token arrays instead of a
    # full re-explode + count of the bigram stream. Exact identity.
    n_big = toklists.agg(
        F.sum(
            F.greatest(F.size("l") - 1, F.lit(0)).cast("long")
        ).alias("n_big")
    )
    ua = uni.select(F.col("term").alias("ta"), F.col("c").alias("ca"))
    ub = uni.select(F.col("term").alias("tb"), F.col("c").alias("cb"))
    # the PMI argument is an explicit division chain mirrored verbatim
    # in the oracle SQL — every step a correctly-rounded IEEE op, so
    # the ratio is bit-identical cross-engine and the single ln +
    # nano rounding is stable
    ratio = (
        F.col("n_ab").cast("double") / F.col("n_big").cast("double")
    ) / (
        (F.col("ca").cast("double") / F.col("n_tok").cast("double"))
        * (F.col("cb").cast("double") / F.col("n_tok").cast("double"))
    )
    return (
        bg_counts.join(ua, "ta")
        .join(ub, "tb")
        .crossJoin(F.broadcast(n_tok))
        .crossJoin(F.broadcast(n_big))
        .select(
            F.col("ta").alias("term_a"),
            F.col("tb").alias("term_b"),
            "n_ab",
            F.round(F.log(ratio) * 1e9).cast("long").alias("pmi_nano"),
        )
    )


def bigram_doc_scores(
    df,
    text: ColumnLike = "text",
    id_col: ColumnLike = "doc_id",
    k: float = 1.0,
):
    """Bigram-LM pseudo-perplexity per document — the next step up
    from :func:`unigram_doc_scores` on the CCNet quality ladder:
    ``score(doc) = Σ ln P(w_i | w_{i-1})`` with Laplace-``k``
    smoothing ``P(b|a) = (c_ab + k) / (c_a + k·V)`` over the corpus
    itself (V = vocab size). Low-probability transition chains mark
    boilerplate/gibberish that unigram frequency misses.

    Fixed-point discipline throughout: each DISTINCT bigram's
    log-prob computes once (explicit IEEE division chain + ONE libm
    ``ln`` on an exact rational + nano rounding — engine-stable),
    and per-doc totals are INTEGER sums of those nano values —
    order-independent. Returns ``(doc_id, n_bigrams,
    sum_logp_nano)``; docs with < 2 tokens score (0, 0).

    Shape: ONE tokenize pass is persisted and feeds the unigram
    table, the bigram table, and the per-doc join — the joins run on
    (doc, bigram) rows against vocab-sized count tables (AQE
    broadcasts them when small).
    """
    from pyspark import StorageLevel

    toklists = (
        df.select(
            _col(id_col).alias("doc_id"),
            F.filter(tokens(text), lambda x: x != "").alias("l"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    n = F.size("l")
    doc_bg = toklists.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice(F.col("l"), 1, F.greatest(n - 1, F.lit(0))),
                F.slice(F.col("l"), 2, F.greatest(n - 1, F.lit(0))),
                lambda a, b: F.struct(a.alias("ta"), b.alias("tb")),
            )
        ).alias("bg"),
    ).select("doc_id", "bg.ta", "bg.tb")
    uni = (
        toklists.select(F.explode("l").alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("ca"))
    )
    vsize = uni.agg(F.count(F.lit(1)).alias("v"))
    bg_counts = doc_bg.groupBy("ta", "tb").agg(
        F.count(F.lit(1)).alias("n_ab")
    )
    prob = (
        bg_counts.join(
            uni.select(F.col("term").alias("ta"), "ca"), "ta"
        )
        .crossJoin(F.broadcast(vsize))
        .select(
            "ta",
            "tb",
            F.round(
                F.log(
                    (F.col("n_ab").cast("double") + F.lit(float(k)))
                    / (
                        F.col("ca").cast("double")
                        + F.lit(float(k)) * F.col("v").cast("double")
                    )
                )
                * 1e9
            )
            .cast("long")
            .alias("logp_nano"),
        )
    )
    scored = (
        doc_bg.join(prob, ["ta", "tb"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("logp_nano").alias("sum_logp_nano"),
        )
    )
    return (
        toklists.select("doc_id")
        .distinct()
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_bigrams"), F.lit(0)).alias("n_bigrams"),
            F.coalesce(F.col("sum_logp_nano"), F.lit(0).cast("long")).alias(
                "sum_logp_nano"
            ),
        )
    )


def bpe_pair_counts(
    df,
    text: ColumnLike = "text",
    min_count: int = 2,
):
    """Byte-pair-encoding merge-step statistics: corpus counts of
    ADJACENT character pairs within tokens — the quantity BPE
    tokenizer training maximizes at every merge (Sennrich et al.
    2016). Returns ``(pair, n)`` for pairs with ``n >= min_count``;
    the argmax row is the next merge.

    The classic word-frequency trick makes this scale: the corpus
    first reduces to the VOCAB table (token → count, one partial-agg
    shuffle over the tokenize explode), and the character-pair
    explode runs over vocab rows weighted by count — at 100 TB the
    pair stage touches |vocab| rows, not corpus tokens. A full BPE
    trainer iterates merge→re-segment; this is the per-iteration
    counting kernel (the corpus-scale part).

    Reference anchor: no analog; LLM-pipeline extension surface
    (tokenizer-training statistics, BASELINE.json north_star).
    """
    vocab = (
        df.select(
            F.explode(
                F.filter(tokens(text), lambda x: x != "")
            ).alias("tok")
        )
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    t = F.col("tok")
    pairs = F.when(
        F.length(t) < 2, F.array().cast("array<string>")
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.length(t) - 1),
            lambda i: F.substring(t, i, F.lit(2)),
        )
    )
    return (
        vocab.select(F.explode(pairs).alias("pair"), "c")
        .groupBy("pair")
        .agg(F.sum("c").alias("n"))
        .filter(F.col("n") >= int(min_count))
    )


def _bpe_merge_fold(symbols: Column, a: str, b: str) -> Column:
    """One BPE merge pass over a symbol array, as a pure-Column fold:
    scan left to right accumulating a space-joined string; when the
    accumulator ends in symbol ``a`` and the next symbol is ``b``,
    fuse them (leftmost-greedy — the reference BPE behavior, e.g.
    merge (a,a) on 'a a a' → 'aa a'). String replace() can't express
    this (a one-pass replace misses overlapping boundaries and
    substring-of-symbol false matches, and DuckDB's RE2 has no
    lookbehind), but the fold mirrors exactly:
    ``list_reduce(list_prepend('', l), ...)`` on the oracle side.
    Returns the NEW symbol array."""
    ab = a + b
    sep_a = " " + a

    def step(acc: Column, x: Column) -> Column:
        hit = (
            (F.endswith(acc, F.lit(sep_a)) | (acc == F.lit(a)))
            & (x == F.lit(b))
        )
        fused = F.concat(
            F.substring(
                acc, F.lit(1), F.length(acc) - F.lit(len(a))
            ),
            F.lit(ab),
        )
        grown = F.when(acc == "", x).otherwise(
            F.concat(acc, F.lit(" "), x)
        )
        return F.when(hit, fused).otherwise(grown)

    return F.split(F.aggregate(symbols, F.lit(""), step), " ")


def bpe_apply(
    df,
    merges: list[tuple[str, str]],
    text: ColumnLike = "text",
    id_col: ColumnLike = "doc_id",
    out_col: str = "subwords",
):
    """Apply an ordered BPE merge list (Sennrich et al. 2016) to the
    corpus: each token explodes to characters, then every merge
    ``(a, b)`` fuses adjacent symbol pairs in priority order
    (:func:`_bpe_merge_fold` — leftmost-greedy, engine-mirrorable).
    Returns ``(id_col, out_col)`` with the per-doc subword array
    (token-internal merges only — merges never cross token
    boundaries, the standard word-level BPE contract).

    Physical shape — the word-frequency trick again: the merge-fold
    chain runs once per DISTINCT token (vocab-sized work, ~30-100×
    less than per-occurrence at corpus scale; measured 10.9 s →
    2.4 s at sf0.1 for 8 merges), then a vocab-sized hash join maps
    occurrences to their subword arrays and an ordered reassembly
    (sort_array over (pos, subwords)) restores each document's
    sequence. Expression depth still grows with ``len(merges)`` —
    apply long merge lists in stages of ~32 (codegen size is the
    practical bound).

    Reference anchor: no analog; LLM-pipeline extension surface
    (tokenizer application, BASELINE.json north_star)."""

    def segment(tok: Column) -> Column:
        sym = F.split(F.trim(F.regexp_replace(tok, "(.)", "$1 ")), " ")
        for a, b in merges:
            sym = _bpe_merge_fold(sym, a, b)
        return sym

    occ = df.select(
        _col(id_col).alias("doc_id"),
        F.posexplode(F.filter(tokens(text), lambda x: x != "")),
    ).withColumnsRenamed({"pos": "_pos", "col": "_tok"})
    vocab = occ.select(F.col("_tok")).distinct().select(
        "_tok", segment(F.col("_tok")).alias("_subs")
    )
    assembled = (
        occ.join(vocab, "_tok")
        .groupBy("doc_id")
        .agg(
            F.flatten(
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct("_pos", "_subs"))
                    ),
                    lambda s: s.getField("_subs"),
                )
            ).alias(out_col)
        )
    )
    return (
        df.select(_col(id_col).alias("doc_id"))
        .distinct()
        .join(assembled, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(
                F.col(out_col), F.array().cast("array<string>")
            ).alias(out_col),
        )
    )


def bpe_learn(
    df,
    n_merges: int = 10,
    text: ColumnLike = "text",
    min_count: int = 2,
) -> list[tuple[str, str]]:
    """Learn a BPE merge list from the corpus — the full tokenizer-
    training loop, at scale: the corpus reduces ONCE to the vocab
    table (token → count; the only corpus-scale pass), and each of
    the ``n_merges`` iterations runs two vocab-sized jobs (adjacent-
    pair count aggregate → deterministic argmax (count desc, pair
    asc) → one merge fold over the vocab's symbol strings). Driver
    state is the merges list alone; the vocab table is persisted and
    evolved functionally.

    Stops early when no pair reaches ``min_count``. Returns the
    ordered merges, ready for :func:`bpe_apply`."""
    from pyspark import StorageLevel

    vocab = (
        df.select(
            F.explode(
                F.filter(tokens(text), lambda x: x != "")
            ).alias("tok")
        )
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .select(
            F.split(
                F.trim(F.regexp_replace("tok", "(.)", "$1 ")), " "
            ).alias("sym"),
            "c",
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    merges: list[tuple[str, str]] = []
    try:
        for _ in range(int(n_merges)):
            n = F.size("sym")
            pairs = F.zip_with(
                F.slice(F.col("sym"), 1, F.greatest(n - 1, F.lit(0))),
                F.slice(F.col("sym"), 2, F.greatest(n - 1, F.lit(0))),
                lambda x, y: F.struct(x.alias("a"), y.alias("b")),
            )
            top = (
                vocab.select(F.explode(pairs).alias("p"), "c")
                .groupBy("p.a", "p.b")
                .agg(F.sum("c").alias("n"))
                .orderBy(F.col("n").desc(), F.col("a"), F.col("b"))
                .first()
            )
            if top is None or top.n < int(min_count):
                break
            merges.append((top.a, top.b))
            upd = vocab.select(
                _bpe_merge_fold(F.col("sym"), top.a, top.b).alias("sym"),
                "c",
            ).persist(StorageLevel.MEMORY_AND_DISK)
            upd.count()  # materialize before dropping the parent
            vocab.unpersist()
            vocab = upd
    finally:
        vocab.unpersist()
    return merges


def source_drift(
    df,
    text: ColumnLike = "text",
    source_col: ColumnLike = "source",
    n_buckets: int = 256,
):
    """Per-source token-distribution drift vs the whole corpus over
    hashed unigram buckets — the monitoring stage of a curation
    pipeline (a source whose distribution drifts from the mix is the
    one to re-weight or investigate). Emits per source:

    - ``chi2_nano``: round(1e12 · Σ_b (p_s(b) − p_c(b))²/p_c(b)) —
      the χ²-divergence to the corpus distribution;
    - ``l1_nano``: round(1e12 · Σ_b |p_s(b) − p_c(b)|) — total
      variation ×2.

    Engine-exact WITHOUT libm (no log-KL): every per-bucket term is
    a short chain of correctly-rounded IEEE ops on exact integer
    ratios, quantized to pico fixed-point BIGINT BEFORE the sum, so
    the aggregate is an order-independent integer sum (the
    :func:`~..operators.grouping.importance_resample` discipline).

    Shape: ONE tokenize explode reduces the corpus to (source,
    bucket) counts — everything after is |sources| × ``n_buckets``
    sized: corpus bucket totals derive from the same table, the
    dense source×bucket grid is a broadcast cross join (so buckets a
    source never hits still contribute their (0 − p_c)²/p_c term),
    and the final reduce is one tiny aggregate.
    """
    sb = (
        df.select(
            _col(source_col).alias("src"),
            F.explode(
                F.filter(tokens(text), lambda x: x != "")
            ).alias("tok"),
        )
        .select("src", hash_bucket("tok", n_buckets).alias("bucket"))
        .groupBy("src", "bucket")
        .agg(F.count(F.lit(1)).alias("c_sb"))
    )
    src_tot = sb.groupBy("src").agg(F.sum("c_sb").alias("n_s"))
    buck_tot = sb.groupBy("bucket").agg(F.sum("c_sb").alias("c_b"))
    corp_tot = buck_tot.agg(F.sum("c_b").alias("n"))
    grid = (
        src_tot.crossJoin(F.broadcast(buck_tot))
        .crossJoin(F.broadcast(corp_tot))
        .join(sb, ["src", "bucket"], "left")
        .withColumn("c_sb", F.coalesce(F.col("c_sb"), F.lit(0)))
    )
    p_s = F.col("c_sb").cast("double") / F.col("n_s").cast("double")
    p_c = F.col("c_b").cast("double") / F.col("n").cast("double")
    diff = p_s - p_c
    chi_term = F.round((diff * diff / p_c) * 1e12).cast("long")
    l1_term = F.round(F.abs(diff) * 1e12).cast("long")
    return (
        grid.select(
            "src",
            chi_term.alias("_chi"),
            l1_term.alias("_l1"),
        )
        .groupBy("src")
        .agg(
            F.sum("_chi").alias("chi2_pico"),
            F.sum("_l1").alias("l1_pico"),
        )
        .select(
            F.col("src").alias("source"), "chi2_pico", "l1_pico"
        )
    )


def unigram_logprob_table(df, text: ColumnLike = "text"):
    """Corpus unigram stats: ``(term, n, logp_nano)`` where
    ``logp_nano = round(ln(n / total) * 1e9)`` as BIGINT — fixed-point
    so downstream SUMs are integer-exact and order-independent (float
    sums reorder across partitions; integer sums don't care).

    One explode + partial-agg count (one shuffle); the corpus total
    joins as a lazy broadcast single-row aggregate.
    """
    toks = df.select(F.explode(tokens(text)).alias("term")).filter(
        F.col("term") != ""
    )
    freqs = toks.groupBy("term").agg(F.count(F.lit(1)).alias("n"))
    total = freqs.agg(F.sum("n").alias("total"))
    return freqs.crossJoin(F.broadcast(total)).select(
        "term",
        "n",
        F.round(
            F.log(F.col("n").cast("double") / F.col("total").cast("double"))
            * 1e9
        )
        .cast("long")
        .alias("logp_nano"),
    )


def unigram_doc_scores(df, text: ColumnLike = "text", id_col: ColumnLike = "doc_id"):
    """Per-document mean unigram negative log-probability (a
    pseudo-perplexity quality signal, CCNet-style: lower = more
    natural under the corpus unigram LM). Returns
    ``(doc_id, n_toks, sum_logp_nano)`` — kept in exact BIGINT so any
    downstream rollup stays order-independent; convert at the edge:
    ``-sum_logp_nano / n_toks / 1e9``.

    Shape: ONE tokenize pass — the (doc_id, term) table is persisted
    and every consumer derives from it (the LM's term frequencies,
    the corpus total via ``count()`` on the cached table, and the
    scoring join) — then join the vocab-sized unigram table (AQE
    broadcast) and one partial-agg shuffle on doc_id. The naive
    composition (:func:`unigram_logprob_table` + a fresh explode)
    tokenizes the corpus three times; at 100 TB the tokenize explode
    IS the dominant cost, so it must run once.
    """
    from pyspark import StorageLevel

    toks = (
        df.select(
            _col(id_col).alias("doc_id"), F.explode(tokens(text)).alias("term")
        )
        .filter(F.col("term") != "")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    total = toks.count()  # materializes the cache; corpus token total
    lm = toks.groupBy("term").agg(F.count(F.lit(1)).alias("n")).select(
        "term",
        F.round(
            F.log(F.col("n").cast("double") / F.lit(float(total))) * 1e9
        )
        .cast("long")
        .alias("logp_nano"),
    )
    return (
        toks.join(lm, on="term")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_toks"),
            F.sum("logp_nano").alias("sum_logp_nano"),
        )
    )


#: PII-shaped span patterns, applied in this order (each later pattern
#: sees the already-redacted text). Deliberately RE2-safe AND
#: Java-regex-identical: no lookarounds, no \b, no top-level
#: alternation — greedy leftmost matching produces the same spans in
#: Spark (java.util.regex) and DuckDB (RE2), so the oracle is exact.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}",
    "phone": r"\+?[0-9]{3}[- .][0-9]{3}[- .][0-9]{4}",
}


def pii_counts(text: ColumnLike) -> dict[str, Column]:
    """Per-category PII match counts over the ORIGINAL text (each
    category counted independently, before any redaction)."""
    c = _col(text)
    return {
        name: F.regexp_count(c, F.lit(pat)).cast("long")
        for name, pat in PII_PATTERNS.items()
    }


def redact_pii(text: ColumnLike, replacement: str = "[PII]") -> Column:
    """Redact PII-shaped spans (emails, IPv4 addresses, phone-shaped
    numbers) — the scrubbing pass a training corpus gets before
    release. A chain of ``regexp_replace`` Column expressions: one
    scan, whole-stage codegen, no Python. Patterns/order are
    :data:`PII_PATTERNS`; heuristic by design (real pipelines add NER
    on top — that would be the Arrow-batched seam, like multimodal).
    """
    out = _col(text)
    for pat in PII_PATTERNS.values():
        out = F.regexp_replace(out, pat, replacement)
    return out


def dedup_lines(text: ColumnLike) -> Column:
    """Keep the FIRST occurrence of each line, preserving order —
    within-document repetition removal (the repeated nav/footer/
    boilerplate lines of scraped pages; complements the corpus-level
    dedups in :mod:`.dedup`). Pure Column: the higher-order filter
    keeps line i iff its first-occurrence index is i. O(lines²) per
    document (bounded small), one scan, no shuffle, no Python.

    DuckDB oracle equivalent:
    ``list_filter(ln, (x, i) -> list_position(ln, x) = i)``
    (DuckDB lambda index and ``list_position`` are both 1-based;
    Spark's filter index is 0-based, hence the ``i + 1``).
    """
    ln = doc_lines(text)
    kept = F.filter(ln, lambda x, i: F.array_position(ln, x) == i + F.lit(1))
    return F.array_join(kept, "\n")


def pack_sequences(
    df,
    seq_len: int,
    text: ColumnLike = "text",
    id_col: ColumnLike = "doc_id",
    part: ColumnLike = "source",
):
    """Concat-and-split sequence packing PLAN — the pre-training step
    that concatenates documents into a token stream and splits it
    into fixed-length training sequences. Assigns every document its
    half-open token interval ``[start_tok, start_tok + n_tok)`` in
    its partition's stream (deterministic ``id_col`` order) and the
    pack holding its first token. Output: ``(doc_id, part, n_tok,
    start_tok, pack_id, pack_offset)`` — downstream writers slice
    exact ``seq_len`` sequences from the intervals without
    re-tokenizing (a doc spans packs ``start_tok // seq_len ..
    (start_tok + n_tok - 1) // seq_len``).

    Scale: one window cumsum per ``part`` value — parallelism =
    #partitions. At 100 TB pass a composite part (e.g. source plus a
    hash-bucket shard column) so no single window sees the whole
    corpus; packing quality is unaffected because the stream order is
    an arbitrary concatenation order anyway.
    """
    from pyspark.sql import Window

    if seq_len <= 0:
        raise ValueError("seq_len must be positive")
    out = df.select(
        _col(id_col).alias("doc_id"),
        _col(part).alias("part"),
        token_count(text).cast("long").alias("n_tok"),
    )
    w = (
        Window.partitionBy("part")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return out.select(
        "doc_id",
        "part",
        "n_tok",
        (F.sum("n_tok").over(w) - F.col("n_tok")).alias("start_tok"),
    ).select(
        "*",
        F.floor(F.col("start_tok") / seq_len).cast("long").alias("pack_id"),
        (F.col("start_tok") % seq_len).cast("long").alias("pack_offset"),
    )


def bm25_scores(
    df,
    query_terms: list,
    k1: float = 1.2,
    b: float = 0.75,
    text: ColumnLike = "text",
    id_col: ColumnLike = "doc_id",
):
    """Okapi BM25 retrieval scores for one query over the corpus —
    the classic inverted-index ranking function (Robertson & Zaragoza
    2009), with the Lucene-style non-negative IDF
    ``ln(1 + (N - df + 0.5)/(df + 0.5))``. Returns one row per
    matching document: ``(doc_id, n_matched, score_nano)`` where
    ``score_nano`` is the BIGINT fixed-point score (each per-term
    contribution rounded to nano before summing, so the sum is
    order-independent and cross-engine exact — same idiom as
    :func:`unigram_doc_scores`). Convert at the edge:
    ``score_nano / 1e9``.

    Scale shape (all relational, no Python):

    - tf table: explode → one partial-agg shuffle on (doc, term);
      document lengths fall out of the same exploded scan.
    - doc length and df both DERIVE from the tf table
      (``dl = Σ_term tf`` — the identity, exact integers), so the
      corpus is tokenized exactly ONCE: every aggregate shares the
      tf exchange (ReusedExchange), where the direct
      ``toks.groupBy(doc_id)`` form re-ran the tokenize explode as a
      second full map side (r14, guide §2.3/§2.4 — at 100 TB the
      tokenize explode is the dominant cost and must run once).
    - the query is a literal handful of terms — the inner join on
      term is an AQE broadcast that prunes the tf table to matching
      postings BEFORE the per-doc shuffle (an inverted-index probe:
      work is proportional to postings of the query terms, not the
      corpus).
    - df/N/avgdl are vocabulary-sized or single-row aggregates,
      joined as broadcasts.
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    toks = df.select(
        _col(id_col).alias("doc_id"), F.explode(tokens(text)).alias("term")
    ).filter(F.col("term") != "")
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("dfq"))
    stats = df.agg(F.count(F.lit(1)).alias("n_docs")).crossJoin(
        dl.agg(F.avg("dl").alias("avgdl"))
    )
    q = local_table(
        df.sparkSession, [(str(t),) for t in query_terms], "term string"
    ).distinct()
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("dfq") + 0.5) / (F.col("dfq") + 0.5)
    )
    tf_norm = (F.col("tf") * (k1 + 1)) / (
        F.col("tf")
        + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
    )
    contrib_nano = F.round(idf * tf_norm * 1e9).cast("long")
    return (
        tf.join(F.broadcast(q), on="term")
        .join(dfreq, on="term")
        .join(dl, on="doc_id")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", contrib_nano.alias("_c"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_matched"),
            F.sum("_c").alias("score_nano"),
        )
    )


def bm25_batch(
    df,
    queries: dict,
    k1: float = 1.2,
    b: float = 0.75,
    text: ColumnLike = "text",
    id_col: ColumnLike = "doc_id",
    top_k: int | None = None,
):
    """Batch BM25: score MANY queries in one corpus pass — the
    retrieval-serving shape (``queries`` maps query_id → term list).
    One tokenize/tf/df/doc-length computation is shared by every
    query; the (query_id, term) probe list is a broadcast literal
    that prunes postings BEFORE the (query, doc) shuffle, so total
    work is Σ_q postings(q's terms), not |queries| × corpus. Same
    fixed-point nano contributions as :func:`bm25_scores` (each
    query's rows are bit-identical to a single-query run).

    Returns ``(query_id, doc_id, n_matched, score_nano)``; with
    ``top_k`` set, only each query's top-k docs survive (rank by
    score desc, doc_id asc — a WindowGroupLimit, pruned before the
    final per-query merge).

    Reference anchor: no analog; LLM-pipeline extension
    (BASELINE.json north_star)."""
    if not queries or any(not ts for ts in queries.values()):
        raise ValueError(
            "bm25_batch: queries must be non-empty with non-empty terms"
        )
    toks = df.select(
        _col(id_col).alias("doc_id"), F.explode(tokens(text)).alias("term")
    ).filter(F.col("term") != "")
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    # dl = Σ_term tf (exact identity): every aggregate derives from
    # the ONE tf exchange — the corpus tokenizes once (see
    # bm25_scores, r14)
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("dfq"))
    stats = df.agg(F.count(F.lit(1)).alias("n_docs")).crossJoin(
        dl.agg(F.avg("dl").alias("avgdl"))
    )
    probe = local_table(
        df.sparkSession,
        sorted({(str(q), str(t)) for q, ts in queries.items() for t in ts}),
        "query_id string, term string",
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("dfq") + 0.5) / (F.col("dfq") + 0.5)
    )
    tf_norm = (F.col("tf") * (k1 + 1)) / (
        F.col("tf")
        + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
    )
    contrib_nano = F.round(idf * tf_norm * 1e9).cast("long")
    scored = (
        tf.join(F.broadcast(probe), on="term")
        .join(dfreq, on="term")
        .join(dl, on="doc_id")
        .crossJoin(F.broadcast(stats))
        .select("query_id", "doc_id", contrib_nano.alias("_c"))
        .groupBy("query_id", "doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_matched"),
            F.sum("_c").alias("score_nano"),
        )
    )
    if top_k is None:
        return scored
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("score_nano").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= int(top_k))
        .drop("_rk")
    )


def char_entropy(text: ColumnLike, round_to: int = 6) -> Column:
    """Per-document Shannon entropy (bits) of the character
    distribution -- a cheap gibberish/boilerplate signal (near-zero
    for repeated-character junk, ~4.1 for typical English prose;
    trainers drop the tails).

    SHUFFLE-FREE: computed as one Column expression per row -- distinct
    chars × their counts via array higher-order functions -- instead of
    the explode→groupBy shape that would shuffle one row per character
    (corpus-size × avg-len rows at 100 TB). Work per row is
    O(distinct_chars × len) with distinct_chars <= alphabet, all under
    whole-stage codegen.

    Float discipline (cross-engine exactness): per-character terms
    are fixed-point BIGINT nano-nats (``round(cnt*ln(cnt)*1e9)``), so
    the sum is order-independent; the only ordered float ops are the
    final ``ln(n)`` subtraction, bits conversion, and rounding --
    H = (ln n - sum(cnt*ln cnt)/n) / ln 2.
    """
    chars = F.split(_col(text), "")
    n = F.size(chars)

    def _term_nano(c):
        cnt = F.size(F.filter(chars, lambda x: x == c)).cast("double")
        return F.round(cnt * F.log(cnt) * F.lit(1e9)).cast("long")

    s_nano = F.aggregate(
        F.array_distinct(chars),
        F.lit(0).cast("long"),
        lambda acc, c: acc + _term_nano(c),
    )
    h_bits = (
        F.log(n.cast("double"))
        - s_nano.cast("double") / F.lit(1e9) / n.cast("double")
    ) / F.lit(0.6931471805599453)
    return F.round(F.when(n > 0, h_bits).otherwise(F.lit(0.0)), round_to)


def hash_bucket(term: ColumnLike, n_buckets: int) -> Column:
    """Hashing-trick feature bucket for a token: the first 8 hex chars
    of md5 mod ``n_buckets``. md5 (not xxhash) so the oracle engine
    reproduces the bucketing bit-for-bit."""
    return (
        F.conv(F.substring(F.md5(_col(term)), 1, 8), 16, 10).cast("long")
        % F.lit(int(n_buckets))
    )


def hash_bucket_weights(spark, n_buckets: int = 4096) -> "DataFrame":
    """Deterministic per-bucket integer weights in [-10, 10] -- the
    stand-in for a trained linear model's weight vector (a real
    pipeline loads trained weights here; everything downstream is
    identical). Generated relationally (``range``), no driver list."""
    return spark.range(int(n_buckets)).select(
        F.col("id").alias("bucket"),
        ((F.col("id") * 37 + 11) % 21 - 10).cast("long").alias("weight"),
    )


def linear_doc_scores(
    df: "DataFrame",
    weights: "DataFrame",
    text: ColumnLike = "text",
    id_col: ColumnLike = "doc_id",
    n_buckets: int = 4096,
) -> "DataFrame":
    """fastText-style linear quality-classifier scoring over hashed
    token features: logit(doc) = mean over tokens of
    weight[hash_bucket(token)]. Returns
    ``(doc_id, n_toks, logit)`` with the logit rounded to 6 dp.

    The scale shape for model-based quality filtering: the weight
    table is model-sized (broadcast -- never shuffled with the corpus),
    tokens reduce to (doc_id, bucket) pairs before the join, and the
    per-doc sum is one partial+final aggregate. All-integer weight
    accumulation; the only float op is the final mean.
    """
    toks = df.select(
        _col(id_col).alias("doc_id"),
        F.explode(tokens(text)).alias("term"),
    ).filter(F.col("term") != "")
    scored = toks.select(
        "doc_id", hash_bucket("term", n_buckets).alias("bucket")
    ).join(F.broadcast(weights), on="bucket")
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_toks"),
        F.round(
            F.sum("weight").cast("double") / F.count(F.lit(1)), 6
        ).alias("logit"),
    )


def dsir_scores(
    raw: "DataFrame",
    target: "DataFrame",
    text: ColumnLike = "text",
    id_col: ColumnLike = "doc_id",
    n_buckets: int = 1024,
) -> "DataFrame":
    """DSIR importance scores (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): rank RAW-corpus docs
    by how target-like they are, ``score(doc) = Σ_tokens
    log( p̂_target(bucket) / p̂_raw(bucket) )`` over hashed unigram
    features with add-one smoothing. The selection step is then any
    of the samplers here (``filter_by_quantile``, ``top_k``,
    ``quota_per_key``…) over the score — resampling in the paper,
    a quantile cut in most deployments.

    Output: ``(doc_id, n_toks, dsir_score)`` (score rounded to 6 dp;
    docs with no tokens are absent, as in ``linear_doc_scores``).

    100 TB shape: both corpora reduce to (bucket) / (doc_id, bucket)
    pairs before any shuffle; the per-bucket log-ratio table is
    ``n_buckets``-sized (model-scale, BROADCAST — built once from
    two partial-agg counts + two lazy single-row totals, no collect);
    scoring is one broadcast join + one partial+final per-doc sum.
    Engine-exact: log-ratios are rounded to nano-nats per bucket and
    summed as BIGINT (order-independent; the same fixed-point trick
    as ``char_entropy``/``unigram_doc_scores``).
    """
    B = int(n_buckets)

    def _toks(df: "DataFrame", with_id: bool) -> "DataFrame":
        cols = [_col(id_col).alias("doc_id")] if with_id else []
        return (
            df.select(*cols, F.explode(tokens(text)).alias("term"))
            .filter(F.col("term") != "")
            .withColumn("bucket", hash_bucket("term", B))
            .drop("term")
        )

    from pyspark import StorageLevel

    # the tokenize explode is the dominant corpus scan and must not
    # re-run per consumer (the repo-wide rule — see
    # unigram_doc_scores): raw tokens feed the bucket counts AND the
    # scoring join, so they persist (caller owns the lifetime, as
    # with the sibling functions); both corpus TOTALS derive from the
    # n_buckets-sized count tables — zero extra scans
    raw_toks = _toks(raw, with_id=True).persist(StorageLevel.MEMORY_AND_DISK)
    # the target side collapses to its n_buckets-sized counts before
    # any reuse, so persist the COUNTS (model-scale), not the tokens
    tgt_toks = _toks(target, with_id=False)

    spark = raw.sparkSession
    domain = spark.range(B).select(F.col("id").alias("bucket"))
    rc = raw_toks.groupBy("bucket").agg(F.count(F.lit(1)).alias("c_raw"))
    tc = (
        tgt_toks.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("c_tgt"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    rn = rc.agg(F.sum("c_raw").alias("n_raw"))
    tn = tc.agg(F.sum("c_tgt").alias("n_tgt"))
    ratios = (
        domain.join(rc, "bucket", "left")
        .join(tc, "bucket", "left")
        .crossJoin(F.broadcast(rn))
        .crossJoin(F.broadcast(tn))
        .select(
            "bucket",
            F.round(
                (
                    F.log(F.coalesce(F.col("c_tgt"), F.lit(0)) + 1)
                    - F.log(F.col("n_tgt") + F.lit(B))
                    - F.log(F.coalesce(F.col("c_raw"), F.lit(0)) + 1)
                    + F.log(F.col("n_raw") + F.lit(B))
                )
                * F.lit(1e9)
            )
            .cast("long")
            .alias("lr_nano"),
        )
    )
    return (
        raw_toks.join(F.broadcast(ratios), on="bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_toks"),
            F.round(
                F.sum("lr_nano").cast("double") / F.lit(1e9), 6
            ).alias("dsir_score"),
        )
    )


def filter_report(
    df: "DataFrame",
    filters: dict[str, Column],
    id_col: ColumnLike = "doc_id",
) -> "DataFrame":
    """Curation audit trail: for every document, WHICH named filters
    it fails and whether it passes them all — the quarantine /
    debugging companion to silently dropping rows. ``filters`` maps
    a filter name to its PASS predicate; a NULL predicate counts as
    a failure (fail-closed, the curation-safe default).

    ``.filter("passed = 1")`` reproduces the plain filtered pipeline
    bit-for-bit, while the ``failed`` list explains every drop — the
    ledger reviewers ask for when a corpus shrinks unexpectedly.

    Returns ``(doc_id, failed array<string> sorted, passed int)``.
    100 TB shape: pure per-row Column expressions, no shuffle, no
    Python; the report is as partitionable as the corpus itself.

    Reference anchor: no analog (datasplash filters drop silently);
    LLM-curation extension surface (BASELINE.json north_star)."""
    if not filters:
        # zero filters = trivially all-passed; F.array() with no
        # elements is ARRAY<VOID> and breaks array_sort/array_compact
        # with an opaque AnalysisException (ADVICE r4) — short-circuit
        # with a typed empty array instead
        return df.select(
            _col(id_col).alias("doc_id"),
            F.array().cast("array<string>").alias("failed"),
            F.lit(1).alias("passed"),
        )
    checks = [
        F.when(~F.coalesce(cond, F.lit(False)), F.lit(name))
        for name, cond in filters.items()
    ]
    failed = F.array_sort(F.array_compact(F.array(*checks)))
    return df.select(
        _col(id_col).alias("doc_id"),
        failed.alias("failed"),
        (F.size(failed) == 0).cast("int").alias("passed"),
    )


def filter_counts(
    df: "DataFrame", filters: dict[str, Column]
) -> "DataFrame":
    """Per-filter failure totals in ONE aggregation pass (each named
    filter becomes a conditional sum — no per-filter scans, no
    shuffle beyond the single global agg): the funnel summary view
    of :func:`filter_report`. NULL predicates count as failures
    (fail-closed). Returns ``(filter, n_failed, n_total)`` — one row
    per filter, ``n_total`` the corpus size."""
    # filter NAMES never become column identifiers (a name with dots
    # would parse as struct access, and a name colliding with the
    # total alias would break the agg) — aggregates use positional
    # aliases and names appear only as literals, matching
    # filter_report's acceptance of arbitrary display names
    names = list(filters)
    if not names:
        # same ARRAY<VOID> trap as filter_report: explode of an
        # untyped empty array fails analysis — return a zero-row
        # frame with the contract schema instead
        spark = df.sparkSession
        return local_table(
            spark, [], "filter string, n_failed bigint, n_total bigint"
        )
    aggs = [
        F.sum(
            F.when(~F.coalesce(cond, F.lit(False)), 1).otherwise(0)
        ).alias(f"_f{i}")
        for i, (_, cond) in enumerate(filters.items())
    ]
    wide = df.agg(F.count(F.lit(1)).alias("_ft"), *aggs)
    arr = F.array(
        *[
            F.struct(
                F.lit(n).alias("filter"),
                F.col(f"_f{i}").alias("n_failed"),
            )
            for i, n in enumerate(names)
        ]
    )
    return wide.select(
        F.explode(arr).alias("s"), F.col("_ft").alias("n_total")
    ).select("s.filter", "s.n_failed", "n_total")


def train_linear_classifier(
    df: "DataFrame",
    label_col: str = "label",
    text: ColumnLike = "text",
    id_col: ColumnLike = "doc_id",
    n_buckets: int = 4096,
    epochs: int = 10,
    lr: float = 1.0,
    l2: float = 0.0,
):
    """Train the hashed-feature linear quality classifier with
    full-batch logistic-regression gradient descent, distributed:
    the model whose weights :func:`linear_doc_scores` applies at
    corpus scale (same featurization — ``x_b = count_b / n_toks``,
    so ``logit = mean over tokens of w[bucket]``).

    Per epoch, two jobs over the persisted (doc, bucket, x) feature
    table: (1) logits via a BROADCAST weight join + per-doc sum,
    residuals ``sigmoid(logit) − y``; (2) the gradient via a doc-keyed
    join + per-bucket sum — ``n_buckets`` floats collect to the
    driver, which applies ``w ← w − lr·(∇/N + l2·w)``. Weights are
    model-sized (bounded collect); documents never move after the
    one-time featurization shuffle. At 100 TB train on a labeled
    SAMPLE (labels are the scarce resource anyway) and apply the
    weights corpus-wide via ``linear_doc_scores`` — the train loop's
    per-epoch cost is two shuffles over the labeled set only.

    Zero-token documents contribute no features and are ignored.
    Returns a ``(bucket, weight)`` DataFrame ready for
    :func:`linear_doc_scores`.

    Float caveat: partial sums follow partition order, so training is
    reproducible to float tolerance only (numpy-differential pytest,
    same contract as ``kmeans_refine``/PCA — no DuckDB oracle).
    """
    from pyspark.storagelevel import StorageLevel

    if epochs < 0:
        raise ValueError("epochs must be >= 0")
    spark = df.sparkSession
    if df.filter(F.col(label_col).isNull()).head(1):
        # NULL labels would silently drop out of every gradient sum
        # while still inflating the n_docs divisor (shrinking the
        # effective lr) — refuse instead of mistraining
        raise ValueError(
            "train_linear_classifier: NULL labels present — filter or "
            "impute them first"
        )
    toks = df.select(
        _col(id_col).alias("doc_id"),
        F.col(label_col).cast("double").alias("y"),
        F.explode(tokens(text)).alias("term"),
    ).filter(F.col("term") != "")
    bucketed = (
        toks.select("doc_id", "y", hash_bucket("term", n_buckets).alias("bucket"))
        .groupBy("doc_id", "y", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    ntok = bucketed.groupBy("doc_id").agg(F.sum("cnt").alias("n_toks"))
    feat = (
        bucketed.join(ntok, "doc_id")
        .select(
            "doc_id",
            "y",
            "bucket",
            (F.col("cnt").cast("double") / F.col("n_toks")).alias("x"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    try:
        n_docs = feat.select("doc_id").distinct().count()
        if n_docs == 0:
            raise ValueError("train_linear_classifier: no non-empty documents")
        w: dict[int, float] = {}
        for _ in range(int(epochs)):
            wrows = [(b, wt) for b, wt in w.items()] or [(0, 0.0)]
            wdf = local_table(spark, wrows, "bucket long, w double")
            resid = (
                feat.join(F.broadcast(wdf), "bucket", "left")
                .groupBy("doc_id", "y")
                .agg(
                    F.sum(
                        F.coalesce(F.col("x") * F.col("w"), F.lit(0.0))
                    ).alias("logit")
                )
                .select(
                    "doc_id",
                    (
                        F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("logit")))
                        - F.col("y")
                    ).alias("r"),
                )
            )
            grad = {
                int(row.bucket): float(row.g)
                for row in feat.join(resid, "doc_id")
                .groupBy("bucket")
                .agg(F.sum(F.col("r") * F.col("x")).alias("g"))
                .collect()
            }
            touched = set(grad) | (set(w) if l2 else set())
            for b in touched:
                w[b] = w.get(b, 0.0) - lr * (
                    grad.get(b, 0.0) / n_docs + l2 * w.get(b, 0.0)
                )
    finally:
        feat.unpersist()
    # DENSE weights over every bucket: linear_doc_scores inner-joins
    # on bucket, so a sparse (touched-only) table would inflate the
    # per-token mean for docs hitting untrained buckets and silently
    # DROP docs whose every token is unseen — dense zeros keep the
    # train-on-sample / apply-corpus-wide contract exact.
    rows = [(b, w.get(b, 0.0)) for b in range(int(n_buckets))]
    return local_table(spark, rows, "bucket long, weight double")


def subword_stats(
    df,
    merges: list[tuple[str, str]],
    text: ColumnLike = "text",
    id_col: ColumnLike = "doc_id",
) -> DataFrame:
    """Tokenizer diagnostics for a BPE merge list: per-document
    token count, subword count, FERTILITY (subwords per token — THE
    standard tokenizer-fit metric; high fertility on a language =
    the vocab underserves it), and the count of single-piece tokens
    (fully merged back to one symbol). Fertility is micro
    fixed-point (``n_sub * 1e6 div n_tok`` in BIGINT) so the number
    is order-independent and engine-exact — no float division.
    Returns ``(doc_id, n_tok, n_sub, n_single, fertility_micro)``.

    Physical shape — same word-frequency trick as :func:`bpe_apply`:
    the merge-fold chain runs once per DISTINCT token (vocab-sized),
    only per-token SUBWORD COUNTS join back to occurrences (no
    subword arrays move), and the per-doc reduction is one
    partial-aggregated groupBy. Docs with no tokens keep a row with
    zero counts.

    Reference anchor: no analog; LLM-pipeline extension surface
    (BASELINE.json north_star)."""

    def segment(tok: Column) -> Column:
        sym = F.split(F.trim(F.regexp_replace(tok, "(.)", "$1 ")), " ")
        for a, b in merges:
            sym = _bpe_merge_fold(sym, a, b)
        return sym

    occ = df.select(
        _col(id_col).alias("doc_id"),
        F.explode(F.filter(tokens(text), lambda x: x != "")).alias("_tok"),
    )
    vocab = occ.select("_tok").distinct().select(
        "_tok", F.size(segment(F.col("_tok"))).alias("_ns")
    )
    per_doc = (
        occ.join(vocab, "_tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tok"),
            F.sum("_ns").alias("n_sub"),
            F.sum(F.when(F.col("_ns") == 1, 1).otherwise(0)).alias(
                "n_single"
            ),
        )
    )
    zero = F.lit(0).cast("long")
    return (
        df.select(_col(id_col).alias("doc_id"))
        .distinct()
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_tok"), zero).cast("long").alias("n_tok"),
            F.coalesce(F.col("n_sub"), zero).cast("long").alias("n_sub"),
            F.coalesce(F.col("n_single"), zero)
            .cast("long")
            .alias("n_single"),
            F.coalesce(
                F.expr("n_sub * 1000000L div n_tok"), zero
            )
            .cast("long")
            .alias("fertility_micro"),
        )
    )


def _term_bucket_py(term: str, n_buckets: int) -> int:
    """Driver-side mirror of dedup.md5_int31(term) % n_buckets —
    bit-identical to the Spark expression, so a probe can compute
    its partition set without touching the cluster."""
    import hashlib

    h = int(hashlib.md5(term.encode("utf-8")).hexdigest()[:8], 16)
    return (h % (1 << 31)) % n_buckets


def materialize_postings(
    df,
    path: str,
    n_buckets: int = 32,
    text: ColumnLike = "text",
    id_col: ColumnLike = "doc_id",
) -> dict:
    """Write the INVERTED-INDEX store: per-(doc, term) postings
    ``(term, doc_id, tf, dl)`` PARTITIONED BY a deterministic term
    bucket — the text-retrieval member of the materialized-store
    family (``materialize_banded`` / ``materialize_ivf`` /
    ``materialize_lsh``). Tokenize + tf/dl aggregation is the one
    corpus-scale pass, paid at WRITE time; every later BM25 probe is
    partition PRUNING — only the buckets holding the query's terms
    are opened, so per-query IO is postings-of-the-query-terms, not
    the corpus. Corpus stats (n_docs, avgdl, n_buckets) persist as a
    model-sized sidecar so probes need zero corpus access before the
    pruned scan. Term df is NOT persisted: each term's document
    frequency is derivable from its own posting list inside the
    probed partitions (count per term), keeping the store
    single-table and trivially mergeable. Returns the stats dict.

    Reference anchor: no analog; retrieval-store extension surface
    (BASELINE.json north_star)."""
    if n_buckets < 1:
        raise ValueError("n_buckets must be positive")
    stats = _postings_stats_dict(
        *_write_postings(
            df, text, id_col, n_buckets,
            lambda p: p.write.mode("overwrite")
            .partitionBy("term_bucket")
            .parquet(path),
        ),
        int(n_buckets),
    )
    _write_postings_stats(df.sparkSession, path, stats)
    return stats


def _tf_dl(df, text: ColumnLike, id_col: ColumnLike):
    """``(tf, dl)`` of ``df``'s whitespace tokens: per-(doc, term)
    counts ``(doc_id, term, tf)`` and per-doc token counts
    ``(doc_id, dl)``. Empty tokens are dropped, so a doc with no
    token has no row in either."""
    toks = df.select(
        _col(id_col).alias("doc_id"), F.explode(tokens(text)).alias("term")
    ).filter(F.col("term") != "")
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    return tf, dl


def _write_postings(
    df, text, id_col, n_buckets: int, write
) -> tuple[int, int, int]:
    """Hand ``df``'s postings ``(doc_id, term, tf, dl, term_bucket)``
    to ``write``, which runs the write action, and return
    ``(n_docs, sum_dl, n_dl)`` as Observations on that write saw them:
    ``n_docs`` on the input frame, so docs with no token count, and
    ``n_dl``/``sum_dl`` over the per-doc lengths. No job runs after
    the write, except when the input has no token row: the join then
    meets an empty side, AQE replaces it by an empty relation, and the
    observed nodes leave the final plan. Spark completes such an
    observation with an empty row, which ``Observation.get`` cannot
    convert (measured on Spark 4.1), so those counts come from one
    aggregate instead."""
    from pyspark.sql import Observation

    from .dedup import md5_int31

    def lengths():
        return F.count(F.lit(1)).alias("n_dl"), F.sum("dl").alias("sum_dl")

    def observed_or(obs, fallback) -> dict:
        return obs.get if obs._jo.getRow().size() else fallback()

    docs, lens = Observation(), Observation()
    tf, dl = _tf_dl(
        df.observe(docs, F.count(F.lit(1)).alias("n_docs")), text, id_col
    )
    write(
        tf.join(dl.observe(lens, *lengths()), "doc_id").withColumn(
            "term_bucket",
            (md5_int31(F.col("term")) % F.lit(n_buckets)).cast("int"),
        )
    )
    n_docs = observed_or(docs, lambda: {"n_docs": df.count()})["n_docs"]
    got = observed_or(
        lens,
        lambda: _tf_dl(df, text, id_col)[1].agg(*lengths()).first().asDict(),
    )
    return int(n_docs), int(got["sum_dl"] or 0), int(got["n_dl"])


def _postings_stats_dict(
    n_docs: int, sum_dl: int, n_dl: int, n_buckets: int
) -> dict:
    """Sidecar stats with MERGEABLE integer components (n_docs,
    sum_dl, n_dl) and the derived avgdl. ``sum_dl/n_dl`` as a
    double division is bit-identical to Spark's ``avg`` over longs
    (Average casts the exact long sum and count to double), so
    store probes stay exactly equal to the inline scorers."""
    return {
        "n_docs": n_docs,
        "sum_dl": sum_dl,
        "n_dl": n_dl,
        # float round-trips exactly through json repr
        "avgdl": (float(sum_dl) / float(n_dl)) if n_dl else 0.0,
        "n_buckets": n_buckets,
    }


def _write_postings_stats(spark, path: str, stats: dict) -> None:
    import json
    import os

    from .similarity import _write_sidecar_text

    _write_sidecar_text(
        spark, os.path.join(path, "_postings_stats"), json.dumps(stats)
    )


def _batch_lengths(store) -> dict:
    """Per-batch entries ``{"<_batch_id>": [n, s]}`` of a stream-layout
    postings store frame, from one aggregate: ``n`` docs with postings
    in that batch and ``s`` their summed lengths."""
    rows = (
        store.select("_batch_id", "doc_id", "dl")
        .distinct()
        .groupBy("_batch_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("dl").alias("s"))
        .collect()
    )
    return {str(r["_batch_id"]): [int(r["n"]), int(r["s"] or 0)] for r in rows}


def _write_batch_stats(spark, path: str, batches: dict, n_buckets: int) -> dict:
    """Write a stream-layout store's per-batch entries to
    ``_postings_batches``, then ``_postings_stats`` from their sums,
    and return the stats dict. Only the store's writers read
    ``_postings_batches``; probes read the constant-size
    ``_postings_stats``."""
    import json
    import os

    from .similarity import _write_sidecar_text

    _write_sidecar_text(
        spark,
        os.path.join(path, "_postings_batches"),
        json.dumps(batches, sort_keys=True),
    )
    n = sum(v[0] for v in batches.values())
    stats = _postings_stats_dict(
        n, sum(v[1] for v in batches.values()), n, n_buckets
    )
    _write_postings_stats(spark, path, stats)
    return stats


def append_postings(
    df,
    path: str,
    text: ColumnLike = "text",
    id_col: ColumnLike = "doc_id",
) -> dict:
    """Append a NEW batch of documents to an existing
    :func:`materialize_postings` store without touching existing
    rows: the batch's postings land in the same term-bucket
    partition layout (append mode — probes keep pruning), and the
    stats sidecar merges by integer sum (n_docs, sum_dl, n_dl are
    mergeable by construction; avgdl re-derives). After the append,
    :func:`bm25_from_store` is bit-identical to
    :func:`bm25_scores` over the UNION corpus (term df re-derives
    from the posting lists, so it needs no merging at all).

    NOT idempotent and NOT doc-id-deduplicating — the caller owns
    batch-replay protection (re-appending a batch double-counts its
    postings); for replay-safe streaming admission compose with the
    ``streaming`` admitters' id-ledger pattern. LAYOUT NOTE: a
    store is either batch-grown (this function, flat ``term_bucket=``
    partitions) or stream-grown (``streaming.postings_ingest``,
    ``_batch_id=/term_bucket=`` levels) — never both on one path
    (parquet partition discovery rejects mixed structures); switch
    growth modes with :func:`convert_postings_layout` (one
    distributed pass, crash-safe swap). Returns the merged stats
    dict."""
    import json
    import os

    from .similarity import _read_sidecar_text

    spark = df.sparkSession
    prev = json.loads(
        _read_sidecar_text(spark, os.path.join(path, "_postings_stats"))
    )
    if "sum_dl" not in prev:
        raise ValueError(
            "store was written by an older materialize_postings without"
            " mergeable stats; rebuild it to enable appends"
        )
    n_buckets = int(prev["n_buckets"])
    n_docs, sum_dl, n_dl = _write_postings(
        df, text, id_col, n_buckets,
        lambda p: p.write.mode("append").partitionBy("term_bucket").parquet(path),
    )
    stats = _postings_stats_dict(
        int(prev["n_docs"]) + n_docs,
        int(prev["sum_dl"]) + sum_dl,
        int(prev["n_dl"]) + n_dl,
        n_buckets,
    )
    _write_postings_stats(spark, path, stats)
    return stats


def ngram_novelty(
    df,
    k: int = 3,
    text: ColumnLike = "text",
    id_col: ColumnLike = "doc_id",
) -> DataFrame:
    """Per-document n-gram novelty — the data-valuation signal for
    incremental corpus growth: of a document's DISTINCT word
    k-shingles, what fraction first appears in THIS document under
    the corpus's id order (min doc_id owns the gram)? Documents that
    only re-combine existing phrasing score near 0; genuinely new
    content scores near 1. Returns ``(doc_id, n_grams, n_novel,
    novelty_micro)`` with ``novelty_micro = floor(n_novel · 1e6 /
    n_grams)`` (0-gram docs score 0).

    Shape: ``n_grams`` is a PER-ROW expression (size of the distinct
    shingle set — no shuffle at all), and ``n_novel`` needs only the
    min-owner aggregate: one shuffle of 16-byte gram digests (never
    the gram text — at 100 TB the shuffle width is what hurts), then
    a vocabulary-sized owner count. The first cut joined the
    corpus-scale gram stream back onto the owner table — a SECOND
    corpus-scale shuffle that measured 304 s at the ×100 tier; this
    form pays one (measured ~2×, SCALING.md). Everything
    partial-aggregates map-side; no Python.

    Reference anchor: no analog; LLM-pipeline extension surface
    (BASELINE.json north_star)."""
    from .dedup import shingles

    # empty docs shingle to [""] — not a gram, not novelty
    sh = F.filter(shingles(_col(text), k), lambda x: x != "")
    base = df.select(
        _col(id_col).alias("doc_id"),
        F.size(sh).cast("long").alias("n_grams"),
        sh.alias("_sh"),
    )
    grams = base.select(
        "doc_id", F.explode("_sh").alias("_g")
    ).select("doc_id", F.md5(F.col("_g")).alias("_d"))
    owner = grams.groupBy("_d").agg(F.min("doc_id").alias("_owner"))
    novel = owner.groupBy(F.col("_owner").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("n_novel")
    )
    return base.drop("_sh").join(novel, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
        F.coalesce("n_novel", F.lit(0)).cast("long").alias("n_novel"),
        F.when(
            F.coalesce("n_grams", F.lit(0)) > 0,
            F.floor(
                (
                    F.coalesce("n_novel", F.lit(0)).cast("long")
                    * F.lit(1_000_000)
                )
                / F.col("n_grams")
            ),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("novelty_micro"),
    )


def zipf_slopes(
    df,
    text: ColumnLike = "text",
    key: ColumnLike = "source",
) -> DataFrame:
    """Zipf's-law fit per corpus slice — the vocabulary-health audit
    (natural text follows ``freq ∝ rank^s`` with s ≈ −1; scraped
    boilerplate, generated spam, and truncated corpora bend the
    curve): per ``key``, the OLS slope and intercept of ``ln freq ~
    ln rank`` over the slice's term-frequency table, plus vocab and
    token counts. Returns ``(key, n_terms, n_tokens, zipf_slope,
    zipf_intercept)`` with slope/intercept rounded to 6 dp.

    Engine-exactness: per-term ``ln`` values quantize to nano BIGINT
    before summation (the bm25 discipline — libm ulp differences
    vanish under 1e-9 rounding), and all four regression sums are
    decimal(38,0) integer sums (order-independent); the final slope
    is one double division. Shape: one tokenize pass → (key, term)
    count → per-key rank window (vocab-sized, not corpus-sized) →
    one per-key aggregate. Slices with < 2 distinct terms return
    NULL slope (no line to fit).

    Reference anchor: no analog; corpus-audit extension surface
    (BASELINE.json north_star)."""
    from pyspark.sql import Window

    tf = (
        df.select(
            _col(key).alias("key"),
            F.explode(tokens(_col(text))).alias("term"),
        )
        .filter(F.col("term") != "")
        .groupBy("key", "term")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    w = Window.partitionBy("key").orderBy(
        F.col("freq").desc(), F.col("term").asc()
    )
    nano = lambda c: F.round(F.log(c.cast("double")) * 1e9).cast("long")  # noqa: E731
    ranked = tf.withColumn("rnk", F.row_number().over(w)).select(
        "key",
        "freq",
        nano(F.col("rnk")).alias("_x"),
        nano(F.col("freq")).alias("_y"),
    )
    d = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    agg = ranked.groupBy("key").agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.sum("freq").cast("long").alias("n_tokens"),
        F.sum(d(F.col("_x"))).alias("_sx"),
        F.sum(d(F.col("_y"))).alias("_sy"),
        F.sum(d(F.col("_x")) * d(F.col("_y"))).alias("_sxy"),
        F.sum(d(F.col("_x")) * d(F.col("_x"))).alias("_sxx"),
    )
    n = F.col("n_terms").cast("double")
    sx = F.col("_sx").cast("double") / 1e9
    sy = F.col("_sy").cast("double") / 1e9
    sxy = F.col("_sxy").cast("double") / 1e18
    sxx = F.col("_sxx").cast("double") / 1e18
    denom = n * sxx - sx * sx
    slope = F.when(denom > 0, (n * sxy - sx * sy) / denom)
    return agg.select(
        "key",
        F.col("n_terms").cast("long"),
        "n_tokens",
        F.round(slope, 6).alias("zipf_slope"),
        F.round(
            F.when(denom > 0, (sy - slope * sx) / n), 6
        ).alias("zipf_intercept"),
    )


def convert_postings_layout(
    spark,
    path: str,
    to: str,
    compact_id: int = -1,
) -> dict:
    """One-pass bridge between the two inverted-index growth layouts
    (VERDICT r6 item 7 — previously a user who grew a store one way
    and needed the other got a partition-discovery error and a full
    rebuild):

    - ``to="batch"``: flatten a stream-grown store
      (``_batch_id=/term_bucket=`` levels, :func:`..streaming.neardup
      .postings_ingest`) into the flat ``term_bucket=`` layout that
      :func:`append_postings` grows. Replayed-batch duplicates
      self-heal by the compaction rule — keep each ``(doc_id,
      term)``'s lowest batch.
    - ``to="stream"``: lift a flat batch-grown store into a single
      ``_batch_id=<compact_id>`` level so ``postings_ingest`` can
      keep growing it (``compact_id`` defaults to −1, the compactor's
      never-a-real-batch id).

    :func:`bm25_from_store` probes either layout unchanged, so this
    converts GROWTH mode, not probe mode. Term-bucket partition
    pruning survives in both directions.

    Crash-safe by staging: the converted store is fully written to a
    ``<path>__convert`` sibling first (one distributed pass), then
    the old data directories move aside, the new ones move in (pure
    directory renames), and the stats sidecar recomputes from the
    final store in one aggregate. ``to="stream"`` groups it by
    ``_batch_id`` and writes the per-batch entries the streaming
    admitter keeps (``_postings_batches``); ``to="batch"`` removes
    them. A re-run after a crash at ANY point completes the
    swap instead of re-reading a half-swapped root (a complete
    staging dir short-circuits the rewrite). Returns the recomputed
    stats dict."""
    import json
    import os

    from .similarity import _read_sidecar_text

    if to not in ("batch", "stream"):
        raise ValueError(f"convert_postings_layout: unknown target {to!r}")
    sc = spark.sparkContext
    hpath = sc._jvm.org.apache.hadoop.fs.Path
    root = hpath(path)
    fs = root.getFileSystem(sc._jsc.hadoopConfiguration())
    tmp = hpath(path.rstrip("/") + "__convert")
    old = hpath(path.rstrip("/") + "__convert_old")

    def _data_dirs(p):
        if not fs.exists(p):
            return []
        return [
            st.getPath()
            for st in fs.listStatus(p)
            if st.isDirectory()
            and st.getPath().getName().split("=", 1)[0]
            in ("_batch_id", "term_bucket")
        ]

    src_prefix = "term_bucket" if to == "stream" else "_batch_id"
    dst_prefix = "_batch_id" if to == "stream" else "term_bucket"
    root_dirs = _data_dirs(root)
    if root_dirs and all(
        p.getName().startswith(dst_prefix + "=") for p in root_dirs
    ) and not fs.exists(tmp):
        raise ValueError(
            f"convert_postings_layout: store is already {to}-layout"
        )

    staged_complete = fs.exists(tmp) and fs.exists(
        hpath(tmp.toString() + "/_SUCCESS")
    )
    if not staged_complete:
        if fs.exists(tmp):
            fs.delete(tmp, True)  # stale partial stage from a crash
        store = spark.read.parquet(path)
        if to == "batch":
            from pyspark.sql import Window

            w = Window.partitionBy("doc_id", "term").orderBy(
                F.col("_batch_id").asc()
            )
            out = (
                store.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .drop("_rn", "_batch_id")
            )
            out.write.partitionBy("term_bucket").parquet(tmp.toString())
        else:
            out = store.withColumn("_batch_id", F.lit(int(compact_id)))
            out.write.partitionBy("_batch_id", "term_bucket").parquet(
                tmp.toString()
            )
    # swap: old source dirs aside, staged dirs in — each step
    # idempotent, so a crashed swap finishes on re-run
    if not fs.exists(old):
        fs.mkdirs(old)
    for p in _data_dirs(root):
        if p.getName().startswith(src_prefix + "="):
            fs.rename(p, hpath(old.toString() + "/" + p.getName()))
    for p in _data_dirs(tmp):
        dst = hpath(path.rstrip("/") + "/" + p.getName())
        if fs.exists(dst):
            fs.delete(p, True)  # already moved by a prior attempt
        else:
            fs.rename(p, dst)
    n_buckets = int(json.loads(
        _read_sidecar_text(spark, os.path.join(path, "_postings_stats"))
    )["n_buckets"])
    store = spark.read.parquet(path)
    if to == "stream":
        stats = _write_batch_stats(
            spark, path, _batch_lengths(store), n_buckets
        )
    else:
        row = (
            store.select("doc_id", "dl")
            .distinct()
            .agg(F.count(F.lit(1)).alias("n"), F.sum("dl").alias("s"))
            .collect()[0]
        )
        stats = _postings_stats_dict(
            int(row.n), int(row.s or 0), int(row.n), n_buckets
        )
        _write_postings_stats(spark, path, stats)
        fs.delete(hpath(path.rstrip("/") + "/_postings_batches"), True)
    fs.delete(old, True)
    fs.delete(tmp, True)
    return stats


def bm25_from_store(
    spark,
    path: str,
    query_terms: list,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 probe against a :func:`materialize_postings`
    store: numerically IDENTICAL to :func:`bm25_scores` on the same
    corpus (same expressions, same nano fixed-point rounding —
    differential-test-pinned), but the scan touches ONLY the
    partitions holding the query's term buckets (bucket membership
    is driver-side md5 arithmetic — no corpus access before the
    pruned scan). Returns ``(doc_id, n_matched, score_nano)``."""
    import json
    import os

    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    # driver-side sidecar read — no scheduled job for <1 KB of stats
    from .similarity import _read_sidecar_text

    stats = json.loads(
        _read_sidecar_text(spark, os.path.join(path, "_postings_stats"))
    )
    n_buckets = int(stats["n_buckets"])
    terms = sorted({str(t) for t in query_terms})
    buckets = sorted({_term_bucket_py(t, n_buckets) for t in terms})
    post = read_parquet_memo(spark, path).where(
        F.col("term_bucket").isin(buckets) & F.col("term").isin(terms)
    )
    dfreq = post.groupBy("term").agg(F.count(F.lit(1)).alias("dfq"))
    idf = F.log(
        F.lit(1.0)
        + (F.lit(stats["n_docs"]) - F.col("dfq") + 0.5)
        / (F.col("dfq") + 0.5)
    )
    tf_norm = (F.col("tf") * (k1 + 1)) / (
        F.col("tf")
        + k1 * (1 - b + b * F.col("dl") / F.lit(stats["avgdl"]))
    )
    contrib_nano = F.round(idf * tf_norm * 1e9).cast("long")
    return (
        post.join(F.broadcast(dfreq), on="term")
        .select("doc_id", contrib_nano.alias("_c"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_matched"),
            F.sum("_c").alias("score_nano"),
        )
    )


def topic_tags(
    df,
    topics: dict[str, list[str]],
    text: ColumnLike = "text",
    id_col: ColumnLike = "doc_id",
) -> DataFrame:
    """Dictionary-based topic tagging (the curation pass that routes
    docs into domain buckets before mixing): for each topic, count
    how many of its DISTINCT dictionary terms appear in the doc's
    token set. Long output ``(doc_id, topic, n_terms_hit)``, one row
    per (doc, topic) with at least one hit. Pure Column: the doc
    tokenizes once (distinct token array), each topic is one
    array_intersect against a literal term array — topics-count
    expressions over one scan, no shuffle, no Python, no join.

    Counting DISTINCT matched terms (not occurrences) makes the
    signal robust to keyword stuffing; combine with
    :func:`token_count` for a density score. At 100 TB the
    dictionary is a broadcast literal — dictionaries are
    human-curated and small by construction.

    Reference anchor: no analog; LLM-pipeline extension surface
    (BASELINE.json north_star)."""
    if not topics:
        raise ValueError("topics must be non-empty")
    toks = F.array_distinct(tokens(text))
    pairs = [
        F.struct(
            F.lit(name).alias("topic"),
            F.size(
                F.array_intersect(
                    toks, F.array(*[F.lit(t) for t in terms])
                )
            )
            .cast("long")
            .alias("n_terms_hit"),
        )
        for name, terms in sorted(topics.items())
    ]
    return (
        df.select(
            _col(id_col).alias("doc_id"),
            F.explode(F.array(*pairs)).alias("_t"),
        )
        .select("doc_id", "_t.topic", "_t.n_terms_hit")
        .where(F.col("n_terms_hit") > 0)
    )


def compression_ratio(
    df,
    text: ColumnLike = "text",
    id_col: ColumnLike = "doc_id",
    level: int = 6,
) -> DataFrame:
    """zlib-deflate compressibility per document — the classic
    gibberish/boilerplate signal SQL can't express (highly
    repetitive machine text compresses far below prose; random
    gibberish barely compresses): ``(doc_id, raw_len, comp_len,
    ratio_micro)`` with ``ratio_micro = comp_len * 1e6 div
    raw_len`` (BIGINT fixed point; 0 for empty docs). Typical prose
    sits ~300k-600k micro; << that = repetition, >> that = noise.

    This is a deliberate ARROW-SEAM operator (like multimodal
    decode): zlib is a Python kernel, so it runs via `mapInPandas`
    — Arrow-batched, never per-row, one stateless pass, only the
    4-column result crosses back. Deterministic for a fixed zlib
    and level (RFC 1950 output is implementation-defined, so no
    cross-engine oracle — pinned by a direct-zlib differential test
    instead).

    Reference anchor: no analog; LLM-pipeline extension surface
    (BASELINE.json north_star)."""
    if not 0 <= level <= 9:
        raise ValueError("level must be in 0..9")
    src = df.select(
        _col(id_col).alias("doc_id"), _col(text).alias("_t")
    )

    def compute(batches):
        import zlib

        import pandas as pd

        for pdf in batches:
            raw = [
                (s if isinstance(s, str) else "").encode("utf-8")
                for s in pdf["_t"]
            ]
            rl = [len(b) for b in raw]
            cl = [len(zlib.compress(b, level)) for b in raw]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "raw_len": rl,
                    "comp_len": cl,
                    "ratio_micro": [
                        (c * 1_000_000) // r if r else 0
                        for c, r in zip(cl, rl)
                    ],
                }
            )

    return src.mapInPandas(
        compute,
        "doc_id long, raw_len long, comp_len long, ratio_micro long",
    )


def bm25_batch_from_store(
    spark,
    path: str,
    queries: dict,
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int | None = None,
) -> DataFrame:
    """Batch BM25 against a :func:`materialize_postings` store: many
    queries share ONE pruned scan (the partition set is the union of
    every query's term buckets, computed driver-side), and each
    query's rows are bit-identical to :func:`bm25_batch` /
    :func:`bm25_scores` on the same corpus (same expressions, same
    nano rounding). Returns ``(query_id, doc_id, n_matched,
    score_nano)``; ``top_k`` keeps each query's top-k (score desc,
    doc_id asc — WindowGroupLimit)."""
    import json
    import os

    from .similarity import _read_sidecar_text

    if not queries or any(not ts for ts in queries.values()):
        raise ValueError(
            "bm25_batch_from_store: queries must be non-empty with"
            " non-empty terms"
        )
    stats = json.loads(
        _read_sidecar_text(spark, os.path.join(path, "_postings_stats"))
    )
    n_buckets = int(stats["n_buckets"])
    pairs = sorted({(str(q), str(t)) for q, ts in queries.items() for t in ts})
    terms = sorted({t for _, t in pairs})
    buckets = sorted({_term_bucket_py(t, n_buckets) for t in terms})
    post = spark.read.parquet(path).where(
        F.col("term_bucket").isin(buckets) & F.col("term").isin(terms)
    )
    dfreq = post.groupBy("term").agg(F.count(F.lit(1)).alias("dfq"))
    probe = local_table(spark, pairs, "query_id string, term string")
    idf = F.log(
        F.lit(1.0)
        + (F.lit(stats["n_docs"]) - F.col("dfq") + 0.5)
        / (F.col("dfq") + 0.5)
    )
    tf_norm = (F.col("tf") * (k1 + 1)) / (
        F.col("tf")
        + k1 * (1 - b + b * F.col("dl") / F.lit(stats["avgdl"]))
    )
    contrib_nano = F.round(idf * tf_norm * 1e9).cast("long")
    scored = (
        post.join(F.broadcast(probe), on="term")
        .join(F.broadcast(dfreq), on="term")
        .select("query_id", "doc_id", contrib_nano.alias("_c"))
        .groupBy("query_id", "doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_matched"),
            F.sum("_c").alias("score_nano"),
        )
    )
    if top_k is None:
        return scored
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("score_nano").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= int(top_k))
        .drop("_rk")
    )


def chunk_by_sentences(
    df,
    max_tokens: int,
    text: ColumnLike = "text",
    id_col: ColumnLike = "doc_id",
) -> DataFrame:
    """Sentence-aware chunking (the RAG/embedding-index splitter):
    split on sentence boundaries (``[.!?]`` + space) and GREEDILY
    pack consecutive sentences into chunks of ``<= max_tokens``
    whitespace tokens — a chunk never splits a sentence, and a
    single sentence longer than the budget gets its own (oversized)
    chunk rather than being cut. Returns ``(doc_id, chunk_id,
    chunk_text, n_tok)``; chunk_ids are 0-based document order.
    Complements :func:`chunk_documents` (fixed token windows with
    overlap — which DOES cut mid-sentence).

    Pure Column, one stateless scan, no shuffle: boundary marking is
    one regexp_replace (a 0x1E sentinel — text must not contain that
    control char), the greedy pass is ONE aggregate fold over the
    per-sentence token counts (state = (chunk, acc, ids)), and
    chunk assembly is index-filtered array_join per chunk id. The
    DuckDB oracle mirrors the fold as a recursive CTE — same
    integer recurrence, engine-exact.

    Reference anchor: no analog; LLM-pipeline extension surface
    (BASELINE.json north_star)."""
    if max_tokens <= 0:
        raise ValueError("max_tokens must be positive")
    sent_sep = "\x1e"
    marked = F.regexp_replace(_col(text), r"([.!?]) ", "$1" + sent_sep)
    sents = F.split(marked, sent_sep, -1)
    counts = F.transform(
        sents,
        lambda s: F.size(F.filter(F.split(s, " ", -1), lambda x: x != "")),
    )
    init = F.struct(
        F.lit(0).alias("chunk"),
        F.lit(0).alias("acc"),
        F.array().cast("array<int>").alias("ids"),
    )

    def step(st: Column, cnt: Column) -> Column:
        overflow = ((st.getField("acc") + cnt) > F.lit(max_tokens)) & (
            st.getField("acc") > 0
        )
        new_chunk = F.when(overflow, st.getField("chunk") + 1).otherwise(
            st.getField("chunk")
        )
        new_acc = F.when(overflow, cnt).otherwise(st.getField("acc") + cnt)
        return F.struct(
            new_chunk.alias("chunk"),
            new_acc.alias("acc"),
            F.concat(st.getField("ids"), F.array(new_chunk)).alias("ids"),
        )

    with_state = df.select(
        _col(id_col).alias("doc_id"),
        sents.alias("_s"),
        counts.alias("_c"),
        F.aggregate(counts, init, step).getField("ids").alias("_ids"),
    )

    def chunk_struct(c: Column) -> Column:
        members = F.filter(
            F.col("_s"),
            lambda x, i: F.element_at(F.col("_ids"), i + F.lit(1)) == c,
        )
        toks = F.filter(
            F.col("_c"),
            lambda x, i: F.element_at(F.col("_ids"), i + F.lit(1)) == c,
        )
        return F.struct(
            c.cast("long").alias("chunk_id"),
            F.array_join(members, " ").alias("chunk_text"),
            F.aggregate(
                toks, F.lit(0).cast("long"), lambda a, x: a + x
            ).alias("n_tok"),
        )

    chunks = F.transform(
        F.sequence(F.lit(0), F.element_at(F.col("_ids"), -1)), chunk_struct
    )
    return (
        with_state.select("doc_id", F.explode(chunks).alias("_ch"))
        .select(
            "doc_id",
            "_ch.chunk_id",
            "_ch.chunk_text",
            "_ch.n_tok",
        )
    )


def bm25_hard_negatives(
    df,
    labeled_queries: dict,
    n_negatives: int = 3,
    k1: float = 1.2,
    b: float = 0.75,
    text: ColumnLike = "text",
    id_col: ColumnLike = "doc_id",
) -> DataFrame:
    """Lexical HARD-NEGATIVE mining for retrieval training (the DPR
    recipe: the strongest BM25 hits that are NOT the labeled
    positive make the best contrastive negatives — random negatives
    are too easy): ``labeled_queries`` maps query_id → ``(terms,
    positive_doc_id)``; returns ``(query_id, pos_doc_id,
    neg_doc_id, neg_rank, score_nano)`` with each query's top
    ``n_negatives`` non-positive docs, ranked by exact fixed-point
    score (desc, doc_id asc ties).

    The embedding-space sibling of ``similarity.contrastive_pairs``.
    One shared corpus pass for every query (:func:`bm25_batch`
    shape); the positive exclusion is a broadcast literal filter
    BEFORE the per-query WindowGroupLimit, so a positive never
    displaces a negative inside the top-k.

    Reference anchor: no analog; LLM-pipeline extension surface
    (BASELINE.json north_star)."""
    from pyspark.sql import Window

    if not labeled_queries:
        raise ValueError("labeled_queries must be non-empty")
    if n_negatives < 1:
        raise ValueError("n_negatives must be positive")
    queries = {q: terms for q, (terms, _pos) in labeled_queries.items()}
    scored = bm25_batch(df, queries, k1=k1, b=b, text=text, id_col=id_col)
    spark = df.sparkSession
    pos = local_table(
        spark,
        [(str(q), p) for q, (_t, p) in sorted(labeled_queries.items())],
        "query_id string, pos_doc_id long",
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_nano").desc(), F.col("doc_id").asc()
    )
    return (
        scored.join(F.broadcast(pos), "query_id")
        .filter(F.col("doc_id") != F.col("pos_doc_id"))
        .withColumn("neg_rank", F.row_number().over(w))
        .filter(F.col("neg_rank") <= int(n_negatives))
        .select(
            "query_id",
            "pos_doc_id",
            F.col("doc_id").alias("neg_doc_id"),
            F.col("neg_rank").cast("long").alias("neg_rank"),
            "score_nano",
        )
    )


def length_batches(
    df,
    batch_size: int,
    text: ColumnLike = "text",
    id_col: ColumnLike = "doc_id",
    part: ColumnLike | None = None,
) -> DataFrame:
    """Length-bucketed batch planning (the padding-waste lever for
    SFT/inference serving): order documents by token count and cut
    consecutive runs of ``batch_size`` into batches, so each batch
    pads to a max length close to its members' own lengths instead
    of the corpus max. Per-doc output: ``(doc_id, n_tok, batch_id,
    batch_max_tok, padded_tok, waste_tok)`` where ``padded_tok =
    batch_max_tok`` (every member pads to the batch max) and
    ``waste_tok = batch_max_tok - n_tok``. Deterministic: ties
    break on ``doc_id``.

    Scale shape — same law as :func:`pack_sequences`: the ranking
    window partitions by ``part`` (default a single global stream,
    fine up to one executor's worth of (id, count) pairs — it is a
    COUNT-PAIR sort, text never enters the window). At 100 TB pass
    a shard column (e.g. source, or a hash bucket): batches then
    form within each shard — padding quality is unaffected because
    batching by length is shard-local anyway — and the window
    parallelizes across shards. ``batch_id`` is then unique per
    (part, batch_id). The batch max is a second window over the
    batch key on the same partitioning.

    Reference anchor: no analog; LLM-pipeline extension surface
    (BASELINE.json north_star)."""
    from pyspark.sql import Window

    if batch_size < 1:
        raise ValueError("batch_size must be positive")
    base = df.select(
        _col(id_col).alias("doc_id"),
        # NULL text counts as 0 tokens (ANSI size(NULL) is NULL and
        # would otherwise poison the batch walk)
        F.coalesce(
            token_count(text).cast("long"), F.lit(0).cast("long")
        ).alias("n_tok"),
        *([_col(part).alias("part")] if part is not None else []),
    )
    pcols = ["part"] if part is not None else []
    w = Window.partitionBy(*pcols).orderBy(
        F.col("n_tok").asc(), F.col("doc_id").asc()
    )
    ranked = base.withColumn(
        "batch_id",
        ((F.row_number().over(w) - 1) / batch_size).cast("long"),
    )
    wb = Window.partitionBy(*pcols, "batch_id")
    return ranked.select(
        *pcols,
        "doc_id",
        "n_tok",
        "batch_id",
        F.max("n_tok").over(wb).alias("batch_max_tok"),
    ).select(
        "*",
        F.col("batch_max_tok").alias("padded_tok"),
        (F.col("batch_max_tok") - F.col("n_tok")).alias("waste_tok"),
    )


def unicode_normalize(
    df,
    text: ColumnLike = "text",
    id_col: ColumnLike = "doc_id",
    form: str = "NFKC",
    casefold: bool = False,
) -> DataFrame:
    """Unicode normalization (stdlib ``unicodedata``) — the pass
    multilingual dedup keys need before hashing: fullwidth forms
    fold to ASCII, compatibility ligatures expand, combining marks
    canonicalize, so visually identical strings stop hashing apart.
    ``casefold=True`` adds ``str.casefold()`` (aggressive lowercase
    — the dedup-key choice). Returns ``(doc_id, text_norm,
    changed)``.

    Arrow-seam operator like :func:`compression_ratio`: Spark has no
    Unicode-normalization expression, so this is a ``mapInPandas``
    batch kernel — stateless, shuffle-free, deterministic per
    Unicode database version (pinned by a direct-unicodedata
    differential test, not a cross-engine oracle).

    Reference anchor: no analog; LLM-pipeline extension surface
    (BASELINE.json north_star)."""
    if form not in ("NFC", "NFD", "NFKC", "NFKD"):
        raise ValueError(f"unknown normalization form: {form!r}")
    src = df.select(_col(id_col).alias("doc_id"), _col(text).alias("_t"))

    def compute(batches):
        import unicodedata

        import pandas as pd

        for pdf in batches:
            orig = [(s if isinstance(s, str) else "") for s in pdf["_t"]]
            norm = [unicodedata.normalize(form, s) for s in orig]
            if casefold:
                norm = [s.casefold() for s in norm]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "text_norm": norm,
                    "changed": [a != b for a, b in zip(orig, norm)],
                }
            )

    return src.mapInPandas(
        compute, "doc_id long, text_norm string, changed boolean"
    )


def token_budget_batches(
    df,
    capacity: int,
    text: ColumnLike = "text",
    id_col: ColumnLike = "doc_id",
    part: ColumnLike = "source",
) -> DataFrame:
    """Token-BUDGET batching (the inference-serving shape
    :func:`length_batches` doesn't cover — batches bounded by total
    tokens, not row count, documents never split): within each
    shard, walk docs in (n_tok desc, doc_id asc) order and start a
    new batch whenever adding the next doc would exceed
    ``capacity`` (next-fit-decreasing; an oversized doc gets its
    own over-budget batch rather than being cut — same no-split
    contract as :func:`chunk_by_sentences`). Returns ``(part,
    doc_id, n_tok, batch_id, batch_tok)``.

    The greedy reset-fold is NON-associative, so this runs on the
    documented pandas seam (``applyInPandas`` — one Arrow batch per
    shard, like ``streaming.batch_stateful``): only (id, count)
    pairs enter the group, text never moves. Pass fine-grained
    shards at scale — a shard's (id, count) pairs must fit one
    executor, the same law every per-key pandas op obeys. The
    descending walk keeps big docs from stranding capacity behind
    small ones (the classic NFD improvement over arrival order).

    Reference anchor: no analog; LLM-pipeline extension surface
    (BASELINE.json north_star)."""
    if capacity < 1:
        raise ValueError("capacity must be positive")
    base = df.select(
        _col(part).alias("part"),
        _col(id_col).alias("doc_id"),
        # NULL text counts as 0 tokens (ANSI size(NULL) is NULL and
        # int(NaN) would crash the pandas walk)
        F.coalesce(
            token_count(text).cast("long"), F.lit(0).cast("long")
        ).alias("n_tok"),
    )

    def assign(pdf):
        import pandas as pd

        pdf = pdf.sort_values(
            ["n_tok", "doc_id"], ascending=[False, True]
        ).reset_index(drop=True)
        batch, acc, ids, fills = 0, 0, [], []
        for n in pdf["n_tok"]:
            n = int(n)
            if acc + n > capacity and acc > 0:
                batch, acc = batch + 1, n
            else:
                acc += n
            ids.append(batch)
        pdf["batch_id"] = ids
        fill = pdf.groupby("batch_id")["n_tok"].transform("sum")
        pdf["batch_tok"] = fill
        return pdf[["part", "doc_id", "n_tok", "batch_id", "batch_tok"]]

    return base.groupBy("part").applyInPandas(
        assign,
        "part string, doc_id long, n_tok long, batch_id long,"
        " batch_tok long",
    )


def pseudonymize_pii(
    df,
    text: ColumnLike = "text",
    id_col: ColumnLike = "doc_id",
    salt: str = "",
    token_prefix: str = "PII",
) -> DataFrame:
    """PSEUDONYMIZE PII instead of redacting it: every PII-shaped
    span (same :data:`PII_PATTERNS` as :func:`redact_pii`) is
    replaced by ``[<prefix>:<category>:<md5(salt‖span)[:12]>]`` —
    the SAME entity maps to the SAME token corpus-wide, so joins,
    frequency analyses, and dedup keys survive the scrub (plain
    redaction destroys them). ``salt`` keys the mapping: different
    salts give unlinkable pseudonym spaces (rotate per release).
    Returns ``(doc_id, text_pseudo, n_replaced)``.

    Arrow-seam operator: Spark's ``regexp_replace`` cannot compute a
    hash of each match, so this is a ``mapInPandas`` kernel
    (stdlib ``re`` + ``hashlib`` — stateless, shuffle-free,
    deterministic; differential-pinned, no cross-engine oracle).

    Reference anchor: no analog; privacy-tooling extension surface
    (BASELINE.json north_star)."""
    src = df.select(_col(id_col).alias("doc_id"), _col(text).alias("_t"))
    patterns = dict(PII_PATTERNS)

    def compute(batches):
        import hashlib
        import re as _re

        import pandas as pd

        compiled = [(name, _re.compile(pat)) for name, pat in patterns.items()]

        def scrub(s):
            if not isinstance(s, str):
                s = ""
            count = 0

            def sub_for(name):
                def repl(m):
                    nonlocal count
                    count += 1
                    h = hashlib.md5(
                        (salt + m.group(0)).encode("utf-8")
                    ).hexdigest()[:12]
                    return f"[{token_prefix}:{name}:{h}]"

                return repl

            for name, rx in compiled:
                s = rx.sub(sub_for(name), s)
            return s, count

        for pdf in batches:
            pairs = [scrub(s) for s in pdf["_t"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "text_pseudo": [p[0] for p in pairs],
                    "n_replaced": [p[1] for p in pairs],
                }
            )

    return src.mapInPandas(
        compute, "doc_id long, text_pseudo string, n_replaced long"
    )


def readability_scores(text: ColumnLike) -> dict[str, Column]:
    """Flesch reading-ease components (Flesch 1948 — the public
    formula every readability library ships), evaluated entirely
    JVM-side as Columns: word count (``[A-Za-z]+`` runs), sentence
    count (``[.!?]+`` terminator groups), syllable estimate (vowel
    groups ``[aeiouy]+`` in the lowercased text — the standard cheap
    proxy), and ``flesch = 206.835 − 1.015·(words/sentences) −
    84.6·(syllables/words)`` rounded to 4 dp (null when a
    denominator is zero). Returns ``{"n_words", "n_sentences",
    "n_syllables", "flesch"}``.

    Scale: pure regexp expressions over the text column — no
    shuffle, no Python; at 100 TB this is one codegen'd scan
    stage fused with whatever filter consumes the score."""
    t = _col(text)
    n_words = F.size(F.regexp_extract_all(t, F.lit("[A-Za-z]+"), F.lit(0)))
    n_sents = F.size(F.regexp_extract_all(t, F.lit("[.!?]+"), F.lit(0)))
    n_syll = F.size(
        F.regexp_extract_all(F.lower(t), F.lit("[aeiouy]+"), F.lit(0))
    )
    flesch = F.when(
        (n_words > 0) & (n_sents > 0),
        F.round(
            F.lit(206.835)
            - F.lit(1.015) * n_words.cast("double") / n_sents.cast("double")
            - F.lit(84.6) * n_syll.cast("double") / n_words.cast("double"),
            4,
        ),
    )
    return {
        "n_words": n_words.cast("long"),
        "n_sentences": n_sents.cast("long"),
        "n_syllables": n_syll.cast("long"),
        "flesch": flesch,
    }
