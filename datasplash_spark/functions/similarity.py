"""Similarity search over embedding columns (``array<float>``).

LLM-data-pipeline extension (BASELINE.json north_star). Two tiers:

- :func:`brute_force_topk` — exact cosine top-k. The ranking is a
  TakeOrderedAndProject (per-partition heap + driver merge), so the
  full corpus is scanned but never sorted; fine as the correctness
  baseline and for one-off queries.
- :func:`lsh_bucketed_topk` — random-hyperplane (SimHash-for-vectors)
  LSH: probe only the query's bucket. The scale path: bucket keys
  shuffle, vectors don't move; recall is tunable via bits/tables.

Every vector fold (:func:`dot`, :func:`norm`, :func:`cosine`,
:func:`ivf_assign`, :func:`hyperplane_bucket`) is a ``zip_with`` +
``aggregate`` loop in the JVM, no Python. Given column names or
literal Python vectors, a builder renders the fold as SQL text and
parses it with ONE ``F.expr``: building the same tree from Python
lambdas costs a py4j round-trip per node (~2,900 for a 16-plane
bucket). ``Column`` inputs keep the lambda fold, which builds the
same tree and is the reference the equivalence tests use. (A
Pandas-UDF/numpy variant is a worthwhile alternative once vectors are
wide; at d≲1024 the expression form avoids Arrow transfer entirely.)
"""

from __future__ import annotations

import json
import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..operators.elementwise import ColumnLike, _col
from ..pipeline import local_table, read_parquet_memo


def _sql_double(x: float) -> str:
    """One SQL double literal, value-exact: ``repr`` is the shortest
    round-trip form, and both Python and the JVM parse it back to the
    identical IEEE-754 bits; specials spell out the cast."""
    import math

    x = float(x)
    if math.isnan(x):
        return "CAST('NaN' AS DOUBLE)"
    if math.isinf(x):
        return f"CAST('{'Infinity' if x > 0 else '-Infinity'}' AS DOUBLE)"
    return repr(x) + "D"


def _sql_vec(xs) -> str:
    """array<double> literal as SQL text (see :func:`lit_vec`)."""
    if not xs:
        return "CAST(array() AS array<double>)"
    return "array(" + ",".join(_sql_double(x) for x in xs) + ")"


def lit_vec(xs) -> Column:
    """array<double> literal built as ONE parsed SQL expression
    (r13 optimization, guide §1.2 step 2): the former
    ``F.array(*[F.lit(float(x)) for x in xs])`` costs one py4j
    round-trip per element — measured 1.7 s of pure DRIVER time to
    build a 16×64 centroid fold, charged to every embedding query's
    plan construction. A generated SQL string is one round-trip and
    parses to bit-identical Literals (~300× faster to build)."""
    return F.expr(_sql_vec(xs))


#: A column name the SQL renderer takes: dot-separated identifiers,
#: split the way ``F.col`` splits them. Other names (spaces, backticks,
#: leading digits) take the ``Column`` path.
_NAME = re.compile(r"[A-Za-z_]\w*(?:\.[A-Za-z_]\w*)*")


def _sql_operand(x) -> str | None:
    """SQL text for a vector operand: a plain or qualified column name
    (each part backquoted, so a keyword still names a column) or a
    literal Python vector. ``None`` for anything else — a ``Column``,
    which only the lambda fold can take."""
    if isinstance(x, str):
        if _NAME.fullmatch(x):
            return ".".join(f"`{p}`" for p in x.split("."))
        return None
    if isinstance(x, (list, tuple)):
        return _sql_vec(x)
    return None


def _column(x) -> Column:
    """The ``Column`` an operand stands for on the lambda-fold path."""
    return lit_vec(x) if isinstance(x, (list, tuple)) else _col(x)


def _lambda_var(base: str, *names) -> str:
    """A lambda variable name that no referenced column name can
    resolve to: inside a lambda body, a name whose first part equals a
    lambda variable (case-insensitively, as the analyzer compares
    them) reads the variable instead of the column."""
    taken = {n.split(".")[0].lower() for n in names if isinstance(n, str)}
    while base.lower() in taken:
        base += "_"
    return base


def _dot_sql(a: str, b: str, finish: str = "") -> str:
    """:func:`dot`'s fold over two rendered operands. The lambdas
    reference only their own variables, so no column can collide with
    them. ``finish`` is an optional ``acc -> …`` finish lambda."""
    return (
        f"aggregate(zip_with({a}, {b}, "
        "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        f"0.0D, (acc, v) -> acc + v{finish})"
    )


def _norm_sql(a: str) -> str:
    return f"sqrt({_dot_sql(a, a)})"


def _cos_sql(a: str, b: str, denom: str = "") -> str:
    """:func:`cosine`'s tree over two rendered operands; ``denom`` is
    the norms' product when the caller has them as columns."""
    d = f"({denom or _norm_sql(a) + ' * ' + _norm_sql(b)})"
    return f"CASE WHEN {d} > 0 THEN {_dot_sql(a, b)} / {d} ELSE 0.0D END"


def dot_unrolled(a_name: str, b_name: str, dim: int) -> Column:
    """Fixed-width dot product with the SAME value and float-op order
    as :func:`dot` — ``((0.0 + a₀·b₀) + a₁·b₁) + …`` left to right,
    each element cast to double first — but as one flat parsed SQL
    sum instead of an interpreted higher-order fold (r13
    optimization, guide §1.2 step 2: HOF lambdas are CodegenFallback,
    so the fold pays per-element interpreter dispatch on every PAIR
    in the quadratic intra-cell stage; the flat sum whole-stage-
    codegens). Out-of-range/NULL elements null the sum exactly as
    the fold's null-propagating add does. Use when the vector width
    is statically known (e.g. from the centroid table); fall back to
    :func:`dot` otherwise.

    PRECONDITION (ADVICE r13): both arrays must be exactly ``dim``
    wide. A WIDER array silently truncates to ``dim`` terms (the fold
    scored the full zip_with width), and under
    ``spark.sql.ansi.enabled=true`` an out-of-bounds index RAISES
    where the fold null-dropped the pair — callers that cannot
    guarantee the width must gate the expression on
    ``size(a) = dim AND size(b) = dim`` (as ``_pairs_within_cells``
    and the contrastive scorer do) so malformed rows drop exactly
    like the fold's null propagation."""
    terms = "".join(
        f"+CAST({a_name}[{i}] AS DOUBLE)*CAST({b_name}[{i}] AS DOUBLE)"
        for i in range(int(dim))
    )
    return F.expr("0.0D" + terms)


def dot(a: ColumnLike, b: ColumnLike) -> Column:
    """Σ aᵢ·bᵢ in double precision, left-to-right (matches DuckDB
    ``list_dot_product`` evaluation order for oracle exactness). Each
    operand is a column name, a ``Column`` or a literal vector."""
    sa, sb = _sql_operand(a), _sql_operand(b)
    if sa is not None and sb is not None:
        return F.expr(_dot_sql(sa, sb))
    return F.aggregate(
        F.zip_with(
            _column(a),
            _column(b),
            lambda x, y: x.cast("double") * y.cast("double"),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: ColumnLike) -> Column:
    sa = _sql_operand(a)
    if sa is not None:
        return F.expr(_norm_sql(sa))
    return F.sqrt(dot(a, a))


def cosine(a: ColumnLike, b: ColumnLike) -> Column:
    """Cosine similarity of two vectors (0 when either is 0)."""
    sa, sb = _sql_operand(a), _sql_operand(b)
    if sa is not None and sb is not None:
        return F.expr(_cos_sql(sa, sb))
    denom = norm(a) * norm(b)
    return F.when(denom > 0, dot(a, b) / denom).otherwise(F.lit(0.0))


def brute_force_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: ColumnLike = "embedding",
    id_col: ColumnLike = "vec_id",
) -> DataFrame:
    """Exact cosine top-k for one query vector.

    Scores round to 9 dp before ranking and ties break on id, so the
    result set is engine-independent (oracle-stable).

    For a named ``vec_col`` the score is :func:`cosine`'s value with
    the query norm computed driver-side (:func:`_pynorm` runs the same
    left-to-right sum and sqrt) and multiplied in by the row norm's
    finish lambda: the product keeps ``norm(v) * norm(q)``'s order,
    and the per-query constant stays inside the interpreted fold
    instead of becoming a literal in generated source, where each
    query vector would compile its own class. The score stays a fold,
    not a flat unrolled sum: inlining the query values made every
    probe compile its own class (~0.5-1 s each), and the unrolled
    variant regressed the 8-probe store benches 3.5 → 10.3 s."""
    sv = _sql_operand(vec_col)
    if sv is not None:
        denom = _dot_sql(
            sv, sv, f", acc -> sqrt(acc) * {_sql_double(_pynorm(query_vec))}"
        )
        sc = F.expr(_cos_sql(sv, _sql_vec(query_vec), denom))
    else:
        sc = cosine(vec_col, query_vec)
    scored = df.select(
        _col(id_col).alias("vec_id"),
        F.round(sc, 9).alias("score"),
    )
    return scored.orderBy(F.desc("score"), F.asc("vec_id")).limit(k)


def random_hyperplanes(dim: int, bits: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (LCG-driven ±1 entries —
    sign-random projections; oracle SQL can embed the same planes)."""
    planes = []
    state = seed
    for _ in range(bits):
        row = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
            row.append(1.0 if (state >> 32) % 2 == 0 else -1.0)
        planes.append(row)
    return planes


def hyperplane_bucket(
    vec: ColumnLike, planes: list[list[float]]
) -> Column:
    """LSH bucket id: sign bits of the vector against each plane."""
    sv = _sql_operand(vec)
    if sv is not None:
        return F.expr(
            "CAST(0 AS BIGINT)"
            + "".join(
                f" + CASE WHEN {_dot_sql(sv, _sql_vec(p))} >= 0 "
                f"THEN shiftleft(CAST(1 AS BIGINT), {i}) "
                "ELSE CAST(0 AS BIGINT) END"
                for i, p in enumerate(planes)
            )
        )
    acc = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        acc = acc + F.when(
            dot(vec, plane) >= 0, F.shiftleft(F.lit(1).cast("long"), i)
        ).otherwise(F.lit(0).cast("long"))
    return acc


def ivf_centroids(
    df: DataFrame,
    n_cells: int = 16,
    vec_col: ColumnLike = "embedding",
    id_col: ColumnLike = "vec_id",
) -> list[list[float]]:
    """Deterministic coarse quantizer for IVF: the ``n_cells`` corpus
    vectors with the smallest ``md5(id)`` (a seedless uniform sample —
    every engine, including the DuckDB oracle, picks the same set).
    Collect is bounded to ``n_cells`` rows by construction; at 100 TB
    the quantizer is still only thousands of vectors.

    For production recall, refine these with k-means
    (``pyspark.ml.clustering.KMeans`` seeded on this sample); the
    corpus query keeps the sampled quantizer because Lloyd iterations
    sum floats in partition order and are not oracle-reproducible."""
    rows = (
        df.select(_col(id_col).alias("i"), _col(vec_col).alias("v"))
        .withColumn("h", F.md5(F.col("i").cast("string")))
        .orderBy("h", "i")
        .limit(n_cells)
        .collect()
    )
    return [[float(x) for x in r.v] for r in rows]


def _centroid_table(centroids: list[list[float]]) -> str:
    """The ``array<struct<cid, cvec, cnorm>>`` table that
    :func:`ivf_assign` folds over, as SQL text: ONE string literal
    parsed by ``from_json``, which the optimizer folds to one array
    Literal. Per-element literals paid a py4j round-trip per float
    (~1.7 s of driver time per query at 16×64 — see :func:`lit_vec`),
    and an ``array(named_struct(...))`` string still left 16×64
    literal nodes to parse and analyse on every build.

    ``json.dumps`` writes each double's shortest round-trip repr
    (NaN/±Infinity as bare tokens, which Spark's JSON reader accepts),
    so every component and norm arrives bit-exact; the text holds only
    numbers and the three keys, so it needs no SQL escaping.
    ``FAILFAST`` makes a table the reader cannot type raise instead of
    PERMISSIVE's silent NULL cells."""
    table = [
        {"cid": i, "cvec": [float(x) for x in c], "cnorm": _pynorm(c)}
        for i, c in enumerate(centroids)
    ]
    return (
        f"from_json('{json.dumps(table)}', "
        "'array<struct<cid:int,cvec:array<double>,cnorm:double>>', "
        "map('mode', 'FAILFAST'))"
    )


def _ivf_assign_sql(
    vec: ColumnLike, centroids: list[list[float]], norm_col: ColumnLike | None
) -> str | None:
    """:func:`ivf_assign`'s fold as SQL text; ``None`` when ``vec`` or
    ``norm_col`` is a ``Column``."""
    if not centroids:
        raise ValueError("ivf_assign: centroids must be non-empty")
    sv = _sql_operand(vec)
    if sv is None:
        return None
    snv = _norm_sql(sv) if norm_col is None else _sql_operand(norm_col)
    if snv is None:
        return None
    acc = _lambda_var("acc", vec, norm_col)
    c = _lambda_var("c", vec, norm_col)
    sc = f"round({_cos_sql(sv, c + '.cvec', f'{snv} * {c}.cnorm')}, 9)"
    return (
        f"aggregate({_centroid_table(centroids)}, "
        f"named_struct('cid', -1, 'score', {_sql_double(float('-inf'))}), "
        f"({acc}, {c}) -> CASE WHEN {sc} > {acc}.score "
        f"THEN named_struct('cid', {c}.cid, 'score', {sc}) ELSE {acc} END)"
    )


def ivf_assign(
    vec: ColumnLike,
    centroids: list[list[float]],
    norm_col: ColumnLike | None = None,
) -> Column:
    """Nearest-centroid assignment (max cosine, ties → lowest cell
    id) as one ``aggregate`` fold over a literal centroid array
    (:func:`_centroid_table`): a single sequential expression per row
    — no shuffle, no N×K row blowup, no re-inlined subtrees (the
    MinHash anti-lesson). Returns
    a ``struct(cid int, score double)`` so callers needing BOTH the
    cell and its 9-dp-rounded cosine (e.g. SemDeDup's survivor rule)
    pay for one fold, not a fold plus a centroid re-join. Scores
    round to 9 dp so the argmax is engine-stable.

    Centroid norms are folded in as Python-computed literals and the
    row norm is hoisted out of the loop (pass a precomputed column via
    ``norm_col`` to share it across the row) — one dot product per
    centroid instead of three. The float ops stay bit-identical to
    ``cosine()``: same left-to-right sums, same sqrt/multiply order.

    With named ``vec``/``norm_col`` the fold is one parsed SQL string
    whose outer lambda variables are picked so neither name resolves
    to them; a ``Column`` takes the lambda fold."""
    sql = _ivf_assign_sql(vec, centroids, norm_col)
    if sql is not None:
        return F.expr(sql)
    v = _column(vec)
    nv = norm(v) if norm_col is None else _column(norm_col)
    init = F.struct(
        F.lit(-1).alias("cid"), F.lit(float("-inf")).alias("score")
    )

    def step(acc: Column, c: Column) -> Column:
        denom = nv * c.getField("cnorm")
        sc = F.round(
            F.when(denom > 0, dot(v, c.getField("cvec")) / denom).otherwise(
                F.lit(0.0)
            ),
            9,
        )
        return F.when(
            sc > acc.getField("score"),
            F.struct(c.getField("cid").alias("cid"), sc.alias("score")),
        ).otherwise(acc)

    return F.aggregate(F.expr(_centroid_table(centroids)), init, step)


def ivf_cell(
    vec: ColumnLike,
    centroids: list[list[float]],
    norm_col: ColumnLike | None = None,
) -> Column:
    """Nearest-centroid id — ``ivf_assign(...).cid`` (see there for
    the fold's shape and quantization)."""
    sql = _ivf_assign_sql(vec, centroids, norm_col)
    if sql is not None:
        return F.expr(sql + ".cid")
    return ivf_assign(vec, centroids, norm_col).getField("cid")


def _pydot(a: list[float], b: list[float]) -> float:
    s = 0.0
    for x, y in zip(a, b):
        s += x * y
    return s


def _pynorm(c: list[float]) -> float:
    """Driver-side vector norm, bit-identical to :func:`norm`'s fold
    (same left-to-right double sums, same sqrt)."""
    s = 0.0
    for x in c:
        s += x * x
    return s**0.5


def _rank_cells(
    centroids: list[list[float]], query_vec: list[float], nprobe: int
) -> list[int]:
    """Driver-side probe-set selection, shared by the in-memory and
    store-backed IVF paths: cosine of the query against each
    centroid, rounded to 9 dp (the same quantization ``ivf_cell``
    applies row-side, so probe ranking and cell assignment can never
    disagree on ties), ties broken on the lower cell id."""
    qn = _pydot(query_vec, query_vec) ** 0.5

    def pycos(c: list[float]) -> float:
        d = qn * _pydot(c, c) ** 0.5
        return round(_pydot(query_vec, c) / d, 9) if d > 0 else 0.0

    return sorted(
        range(len(centroids)), key=lambda i: (-pycos(centroids[i]), i)
    )[:nprobe]


def query_bucket(
    query_vec: list[float], planes: list[list[float]]
) -> int:
    """Driver-side hyperplane bucket of a query vector — the same
    ``proj >= 0 ⇒ bit i`` convention :func:`hyperplane_bucket`
    applies row-side, kept in ONE place so store writes and probes
    cannot desynchronize."""
    b = 0
    for i, plane in enumerate(planes):
        if _pydot(query_vec, plane) >= 0:
            b |= 1 << i
    return b


def ivf_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
    vec_col: ColumnLike = "embedding",
    id_col: ColumnLike = "vec_id",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF-flat approximate top-k: assign every vector to its nearest
    coarse-quantizer cell, probe only the ``nprobe`` cells nearest the
    query, brute-force within them.

    The scale path: cell assignment is a stateless scan (write it once,
    partitioned by ``cell``, and probes become partition pruning);
    per-query work is ``nprobe/n_cells`` of the corpus. Complements
    :func:`lsh_bucketed_topk` — IVF adapts to the data distribution
    where hyperplane LSH is data-oblivious."""
    if centroids is None:
        centroids = ivf_centroids(df, n_cells, vec_col, id_col)
    probe = _rank_cells(centroids, query_vec, nprobe)
    assigned = df.withColumn("_nv", norm(vec_col)).withColumn(
        "_cell", ivf_cell(vec_col, centroids, norm_col="_nv")
    )
    return brute_force_topk(
        assigned.filter(F.col("_cell").isin(probe)), query_vec, k, vec_col, id_col
    )


def lsh_bucketed_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    bits: int = 8,
    vec_col: ColumnLike = "embedding",
    id_col: ColumnLike = "vec_id",
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: score only vectors in the query's hyperplane
    bucket. At scale, persist the bucketed table partitioned by
    ``bucket`` so the probe prunes partitions instead of scanning."""
    dim = len(query_vec)
    planes = random_hyperplanes(dim, bits, seed)
    bucketed = df.withColumn("bucket", hyperplane_bucket(vec_col, planes))
    qbucket = query_bucket(query_vec, planes)
    return brute_force_topk(
        bucketed.filter(F.col("bucket") == qbucket),
        query_vec,
        k,
        vec_col,
        id_col,
    )


def kmeans_refine(
    df: DataFrame,
    centroids: list[list[float]],
    iters: int = 3,
    vec_col: ColumnLike = "embedding",
) -> list[list[float]]:
    """Lloyd k-means refinement of a coarse quantizer (the production
    upgrade over the sampled :func:`ivf_centroids` — recall improves
    because cells adapt to the data distribution).

    Each iteration is one stateless assignment scan (``ivf_cell`` — a
    single fold expression, no shuffle) plus ONE partial-aggregated
    groupBy(cell) with dim-wide `avg` columns; only the K refined
    centroids collect to the driver (bounded, same as the quantizer
    itself). Empty cells keep their previous centroid.

    Deliberately NOT in the oracle corpus: Lloyd iterations sum floats
    in partition order, so centroid bits are not reproducible across
    engines — correctness is pinned by the synthetic-blob pytest
    instead (cluster means recovered to tolerance).
    """
    dim = len(centroids[0])
    cur = [list(map(float, c)) for c in centroids]
    vecs = df.select(_col(vec_col).alias("v"))
    for _ in range(iters):
        assigned = vecs.withColumn("_cell", ivf_cell("v", cur))
        means = (
            assigned.groupBy("_cell")
            .agg(*[F.avg(F.col("v")[i]).alias(f"m{i}") for i in range(dim)])
            .collect()
        )
        nxt = {r["_cell"]: [float(r[f"m{i}"]) for i in range(dim)] for r in means}
        cur = [nxt.get(i, c) for i, c in enumerate(cur)]
    return cur


def knn_join(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: ColumnLike = "embedding",
    id_col: ColumnLike = "vec_id",
    query_vec_col: ColumnLike = "embedding",
    query_id_col: ColumnLike = "query_id",
    round_to: int = 6,
) -> DataFrame:
    """Batch k-NN join: exact cosine top-k corpus neighbors for EVERY
    query vector — the retrieval-eval / embedding-dedup shape where a
    whole query set (not one vector) probes the corpus.

    Scale shape: the query set is model/eval-sized and is BROADCAST;
    the corpus streams once (never shuffled with its vectors — each
    corpus row emits only (query_id, corpus_id, score) triples).
    Per-query top-k is a rank over (query, score) — WindowGroupLimit
    prunes beyond-k rows per partition before the final per-query
    selection, so the shuffle carries ~k rows per query per
    partition, not |queries| x |corpus|.

    Scores round to ``round_to`` dp before ranking with ties on
    corpus id (engine-independent, oracle-stable). For corpus-x-corpus scale
    (both sides huge) use the bucketed pair pipeline
    (``dedup.cross_corpus_pairs`` on hyperplane buckets) instead of
    an exact join.
    """
    corpus, (cid, cv) = _named(corpus, id_col, vec_col)
    queries, (qid, qv) = _named(queries, query_id_col, query_vec_col)
    c = corpus.selectExpr(f"{cid} AS vec_id", f"{cv} AS _cv")
    q = queries.selectExpr(f"{qid} AS query_id", f"{qv} AS _qv")
    scored = c.crossJoin(F.broadcast(q)).withColumn(
        "score", F.expr(f"round({_cos_sql('_cv', '_qv')}, {int(round_to)})")
    )
    return _top_k_per_query(scored, k)


def _named(df: DataFrame, *cols: ColumnLike) -> tuple[DataFrame, list]:
    """``df`` and SQL text naming each of ``cols``. When one of them
    is not a plain or qualified name (a ``Column``), all are first
    projected to ``_c0``, ``_c1``, … so that SQL text can refer to
    them: a ``Column`` select costs ~20 py4j round-trips per column,
    a ``selectExpr`` of names ~1."""
    sql = [_sql_operand(c) if isinstance(c, str) else None for c in cols]
    if None not in sql:
        return df, sql
    names = [f"_c{i}" for i in range(len(cols))]
    return df.select(*[_col(c).alias(n) for c, n in zip(cols, names)]), names


def _top_k_per_query(scored: DataFrame, k: int) -> DataFrame:
    """``(query_id, vec_id, score)``: each query's ``k`` best rows by
    score desc, ties to the lower vec_id — a row_number rank whose
    filter WindowGroupLimit prunes before the shuffle."""
    return (
        scored.withColumn(
            "_rk",
            F.expr(
                "row_number() OVER (PARTITION BY query_id "
                "ORDER BY score DESC, vec_id ASC)"
            ),
        )
        .filter(f"_rk <= {int(k)}")
        .selectExpr("query_id", "vec_id", "score")
    )


def materialize_ivf(
    df: DataFrame,
    path: str,
    n_cells: int = 16,
    vec_col: ColumnLike = "embedding",
    id_col: ColumnLike = "vec_id",
    centroids: list[list[float]] | None = None,
    quantize: bool = False,
) -> list[list[float]]:
    """Write the IVF store: the corpus with its cell assignment,
    PARTITIONED BY ``cell`` — the cross-job ANN shape (the
    :func:`materialize_banded` analog for embeddings). Cell
    assignment is the one stateless scan paid at write time; every
    later probe is partition PRUNING (only ``nprobe`` directories
    are opened — ``ivf_topk``'s docstring promise made literal).
    Centroids persist alongside as JSON (model-sized) so probes need
    no corpus access at all before the pruned scan. Returns the
    centroids used.

    ``quantize=True`` stores int8 CODES + per-vector scale instead
    of the float vectors (:func:`quantize_embeddings` — cell
    assignment still happens at full precision at write time): the
    probe stream shrinks ~4× and :func:`ivf_topk_from_store`
    auto-detects the layout, scoring with exact integer-dot
    arithmetic (the scale cancels in cosine)."""
    import os

    if centroids is None:
        centroids = ivf_centroids(df, n_cells, vec_col, id_col)
    # hoist the row norm out of the centroid fold (as ivf_topk does)
    # — one sqrt per row instead of one per centroid per row
    assigned = df.withColumn("_nv", norm(vec_col)).withColumn(
        "cell", ivf_cell(vec_col, centroids, norm_col="_nv")
    ).drop("_nv")
    if quantize:
        codes = quantize_embeddings(df, vec_col, id_col)
        assigned = assigned.select(
            _col(id_col).alias("vec_id"), "cell"
        ).join(codes, "vec_id")
    assigned.write.mode("overwrite").partitionBy("cell").parquet(path)
    # centroids sidecar written driver-side through the Hadoop
    # FileSystem API (no Spark job), so the store works on any Hadoop
    # filesystem (s3a/hdfs/...), not just local paths; the _-prefixed
    # directory is invisible to the parquet reader
    _write_sidecar_text(
        df.sparkSession,
        os.path.join(path, "_ivf_centroids"),
        json.dumps(centroids),
    )
    return centroids


def ivf_topk_from_store(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 4,
    vec_col: ColumnLike = "embedding",
    id_col: ColumnLike = "vec_id",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """Probe a :func:`materialize_ivf` store: rank cells against the
    query driver-side (centroids are model-sized JSON), then scan
    ONLY the ``nprobe`` matching partitions (``cell IN (...)`` is a
    partition filter — pinned by a plan test) and brute-force within
    them. Per-query cost is ``nprobe/n_cells`` of the corpus in both
    IO and compute.

    ``centroids=`` skips the sidecar read — the serving pattern: a
    probe server loads the model-sized quantizer ONCE at startup
    (``materialize_ivf``'s return value, or one sidecar read) instead
    of paying a one-file Spark job per query."""
    import os

    if centroids is None:
        centroids = json.loads(
            _read_sidecar_text(spark, os.path.join(path, "_ivf_centroids"))
        )
    if centroids and len(query_vec) != len(centroids[0]):
        raise ValueError(
            f"ivf_topk_from_store: query dimension {len(query_vec)} != "
            f"store dimension {len(centroids[0])}"
        )
    probe = _rank_cells(centroids, query_vec, nprobe)
    store = read_parquet_memo(spark, path).filter(F.col("cell").isin(probe))
    if "codes" in store.columns:
        # quantized layout (materialize_ivf(quantize=True)): quantize
        # the query driver-side (round half away from zero, matching
        # the store's engine rounding) and rank on integer dots —
        # the per-vector scales cancel in cosine
        import math

        am = max(abs(x) for x in query_vec) if query_vec else 0.0
        if am <= 0:
            qc = [0] * len(query_vec)
        else:
            s = am / 127.0
            qc = [
                int(math.floor(x / s + 0.5))
                if x >= 0
                else -int(math.floor(-x / s + 0.5))
                for x in query_vec
            ]
        # dimension already validated against the centroids above and
        # fixed at write time -> flat codegen'd scoring, no probe job
        return quantized_topk(store, qc, k, trusted_dim=len(query_vec))
    return brute_force_topk(store, query_vec, k, vec_col, id_col)


def _write_sidecar_text(spark, dir_path: str, line: str) -> None:
    """Write a one-row text sidecar (_ivf_centroids / _postings_stats)
    DRIVER-SIDE through the Hadoop FileSystem API — the mirror of
    :func:`_read_sidecar_text`, and no Spark job (a
    ``createDataFrame(...).write.text`` paid a whole scheduled job
    for <1 KB on every store write). The layout is the one a Spark
    text write leaves: ``part-00000.txt`` (the line plus a newline)
    and ``_SUCCESS``, so ``spark.read.text`` still reads it. The files go
    into a ``<dir>.staging`` sibling first; the old directory is then
    removed and the staging directory renamed into place, so readers
    never see a half-written part file. A staging directory left by a
    crashed write is cleared by the next write."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path
    final = hpath(dir_path.rstrip("/"))
    staging = hpath(final.toString() + ".staging")
    fs = final.getFileSystem(spark._jsc.hadoopConfiguration())
    fs.delete(staging, True)
    out = fs.create(hpath(staging, "part-00000.txt"), True)
    try:
        jvm.org.apache.commons.io.IOUtils.write(line + "\n", out, "UTF-8")
    finally:
        out.close()
    fs.create(hpath(staging, "_SUCCESS"), True).close()
    fs.delete(final, True)
    if not fs.rename(staging, final):
        raise IOError(f"could not move sidecar {staging} to {final}")


#: Bytes fetched per py4j call by :func:`_read_sidecar_text`. py4j
#: returns a ``byte[]`` base64-encoded, so a 5,400-byte chunk is a
#: 7,202-character response (7,200 plus a 2-character type tag).
_SIDECAR_CHUNK_BYTES = 5400


def _read_sidecar_text(spark, dir_path: str):
    """First line of a one-row text sidecar (_ivf_centroids /
    _postings_stats) read DRIVER-SIDE through the Hadoop FileSystem
    API — no Spark job (r13 optimization: each store probe paid a
    whole scheduled job, ~0.2 s, to read a <1 KB metadata file).
    :func:`_write_sidecar_text` writes what this reads. Falls back
    to ``spark.read.text`` on any surprise (exotic fs, multi-part or
    compressed sidecars). The fast path only accepts a
    line that parses as JSON — every caller stores JSON, and a
    COMPRESSED single part file (``part-*.txt.gz``) would otherwise
    pass the name filter, decode to garbage without raising, and
    crash the caller's ``json.loads`` instead of falling back to the
    codec-aware ``spark.read.text`` (ADVICE r13).

    The part file comes over in ``byte[]`` chunks of
    ``_SIDECAR_CHUNK_BYTES``, joined and UTF-8-decoded in Python. A
    py4j response longer than about 8,190 characters costs a fixed
    ~44 ms (measured: 8,180 characters 0.3 ms, 8,200 characters
    44 ms), which a single ``IOUtils.toString`` of the 22 KB centroid
    JSON paid on every read; byte chunks also never split a
    multi-byte character before the decode."""
    try:
        jvm = spark._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(dir_path)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        parts = [
            st
            for st in fs.listStatus(jpath)
            if st.getPath().getName().startswith("part-")
            and st.getLen() > 0
        ]
        if len(parts) == 1:
            size = int(parts[0].getLen())
            io = jvm.org.apache.commons.io.IOUtils
            stream = fs.open(parts[0].getPath())
            try:
                data = b"".join(
                    bytes(io.toByteArray(
                        stream, min(_SIDECAR_CHUNK_BYTES, size - off)
                    ))
                    for off in range(0, size, _SIDECAR_CHUNK_BYTES)
                )
            finally:
                stream.close()
            # the first line by Hadoop's rule (ends at \n, \r or
            # \r\n), which is what spark.read.text splits on
            line = re.match(r"[^\r\n]*", data.decode("utf-8")).group()
            if line:
                json.loads(line)  # compressed/garbled -> fallback
                return line
    except Exception:  # noqa: BLE001 - any surprise -> job fallback
        pass
    return spark.read.text(dir_path).first()[0]


def materialize_lsh(
    df: DataFrame,
    path: str,
    bits: int = 8,
    vec_col: ColumnLike = "embedding",
    seed: int = 42,
    dim: int | None = None,
) -> None:
    """Write the hyperplane-LSH store: the corpus PARTITIONED BY its
    sign-projection ``bucket`` (the scale path
    :func:`lsh_bucketed_topk`'s docstring promises, made literal —
    probes become partition pruning). The planes are a pure function
    of ``(dim, bits, seed)``, so nothing besides the data needs
    persisting; pass the same parameters at probe time. ``dim``
    skips the one-row dimension probe job (and is required for an
    input that might be empty — note an empty write leaves a
    schema-less store that probes reject with a clear error)."""
    if dim is None:
        first = df.select(_col(vec_col)).first()
        if first is None:
            raise ValueError(
                "materialize_lsh: input has no rows — pass dim= to "
                "write an empty store"
            )
        dim = len(first[0])
    planes = random_hyperplanes(dim, bits, seed)
    assigned = df.withColumn("bucket", hyperplane_bucket(vec_col, planes))
    assigned.write.mode("overwrite").partitionBy("bucket").parquet(path)


def lsh_topk_from_store(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    bits: int = 8,
    nprobe: int = 1,
    vec_col: ColumnLike = "embedding",
    id_col: ColumnLike = "vec_id",
    seed: int = 42,
) -> DataFrame:
    """Probe a :func:`materialize_lsh` store with MULTI-PROBE: the
    query's own bucket plus the buckets at Hamming distance 1 whose
    flipped bit had the SMALLEST projection margin — the standard
    multi-probe LSH recall fix (a vector near a hyperplane falls on
    either side with near-equal probability, so the near-boundary
    flips are the highest-yield neighbors). ``nprobe`` counts probed
    buckets (1 = exact-bucket only); bucket membership is driver-side
    arithmetic on the query alone, and the scan reads ONLY the probed
    partitions (partition pruning, plan-pinned)."""
    dim = len(query_vec)
    planes = random_hyperplanes(dim, bits, seed)
    qbucket = query_bucket(query_vec, planes)
    margins = [
        (abs(_pydot(query_vec, plane)), i)
        for i, plane in enumerate(planes)
    ]
    flips = [i for _, i in sorted(margins)]
    probe = [qbucket] + [qbucket ^ (1 << i) for i in flips[: max(0, nprobe - 1)]]
    store = read_parquet_memo(spark, path).filter(F.col("bucket").isin(probe))
    return brute_force_topk(store, query_vec, k, vec_col, id_col)


def _integral_id_ok(df: DataFrame, id_col: ColumnLike) -> bool:
    """True iff ``id_col`` resolves to an integral column — the Arrow
    pair/argmax kernels stack ids into int64 numpy arrays and declare
    ``long`` output schemas, so string/decimal ids would fail deep in
    Arrow with an opaque cast error. Non-column expressions (computed
    ids) return False (can't check statically → treated as
    non-integral; pass a materialized integral column instead)."""
    from pyspark.sql.types import (
        ByteType,
        IntegerType,
        LongType,
        ShortType,
    )

    name = id_col if isinstance(id_col, str) else None
    if name is None:
        return False
    try:
        dt = df.schema[name].dataType
    except KeyError:
        return False
    return isinstance(dt, (ByteType, ShortType, IntegerType, LongType))


def _require_integral_id(df: DataFrame, id_col: ColumnLike, fn: str) -> None:
    if not _integral_id_ok(df, id_col):
        raise ValueError(
            f"{fn}: backend='arrow' requires an integral id column "
            f"(byte/short/int/long); got {id_col!r} — cast or "
            "re-key the ids, or use backend='expr'"
        )


def _cell_pair_plan(
    scored: DataFrame,
    backend: str,
    arrow_cell_threshold: int,
    max_cell_rows: int,
    max_salt: int,
    id_is_integral: bool,
    fn: str,
    extra_aggs: list | None = None,
) -> tuple:
    """Backend resolution AND per-cell salt widths from ONE count
    aggregate over the cell assignment, collected driver-side (the
    cell space is bounded by the caller's centroid/bucket count, so
    the collect is K rows — the same bounded-collect contract as
    ``ivf_centroids``). Previously these were two separate aggregate
    jobs over the assignment (VERDICT r6 item 5); now the max-cell
    check and the salt table share the single pass, and the salt
    side of every block join is a ``LocalRelation`` built on the
    driver (:func:`~datasplash_spark.pipeline.local_table`) instead of
    an aggregate subtree or a Python-worker ``parallelize`` scan.

    ``auto`` → ``arrow`` when the LARGEST cell crosses
    ``arrow_cell_threshold`` rows (the measured regime where the
    blocked-gemm kernel beats the interpreted expression fold by
    10-100×), else the byte-stable ``expr`` fold; non-integral ids
    always resolve to ``expr`` (the Arrow kernels require integral
    ids). Salt width per cell:
    ``s = clamp(ceil(n / max_cell_rows), 1, max_salt)`` — 1 for
    every cell under the bound, so normal cells keep one block.

    ``extra_aggs`` (r14, guide §1.2/§5): additional per-cell
    aggregate columns to ride the SAME single pass — callers that
    would otherwise schedule another aggregate job over the
    assignment (e.g. contrastive negative mining) fuse it here for
    free. The collected per-cell rows come back as the 4th element."""
    from pyspark.sql import types as T

    if backend not in ("auto", "expr", "arrow"):
        raise ValueError(f"{fn}: unknown backend {backend!r}")
    # AQE off for THIS bounded collect only (r14, guide §1.2 step 3):
    # it is a partial-aggregated K-row result (K = the caller's
    # centroid/bucket count), so adaptive re-planning has nothing to
    # coalesce or skew-split at any scale, while its query-stage
    # materialization costs one extra scheduled job per call
    # (measured: 2 jobs -> 1, ~0.1-0.2 s off every pair-stage query).
    # The flag is restored in `finally`; note it is session-visible,
    # so a multi-threaded driver submitting concurrent jobs during
    # this collect would plan those without AQE.
    spark = scored.sparkSession
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        counts = (
            scored.groupBy("cell")
            .agg(F.count(F.lit(1)).alias("_n"), *(extra_aggs or []))
            .collect()
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
    if backend == "auto":
        mx = max((r["_n"] for r in counts), default=0)
        backend = (
            "arrow"
            if (id_is_integral and mx >= int(arrow_cell_threshold))
            else "expr"
        )
    widths = [
        (
            r["cell"],
            int(
                max(
                    1,
                    min(
                        -(-r["_n"] // int(max_cell_rows)), int(max_salt)
                    ),
                )
            ),
        )
        for r in counts
    ]
    schema = T.StructType(
        [
            T.StructField("cell", scored.schema["cell"].dataType),
            T.StructField("_s", T.IntegerType()),
        ]
    )
    salt = local_table(scored.sparkSession, widths, schema)
    # replicated pair-side rows (each row explodes s ways onto its
    # cell's blocks) — the driver already holds the per-cell counts,
    # so the pair-join sizing below is exact, not an estimate
    repl_rows = sum(
        int(r["_n"]) * s for r, (_, s) in zip(counts, widths)
    )
    return backend, salt, repl_rows, counts


#: Spark byte-size spellings: '10485760', '10485760b', '10m', '10mb', '-1'
_re_size = __import__("re").compile(r"(-?\d+)\s*([bkmg])?b?")


def _pair_join_parallel(
    l: DataFrame, r: DataFrame, repl_rows: int, dim: int | None
) -> tuple[DataFrame, DataFrame, bool]:
    """Deliberate join-strategy choice for the intra-cell pair join
    (guide §3.1): the quadratic blow-up happens INSIDE the join, so
    AQE's byte-based coalescing sees a tiny shuffle input and runs
    the whole scoring stage as ONE post-shuffle task (measured: the
    2.5-3 s cpu of contrastive/semantic pair scoring serialized on
    one core). When the replicated candidate side provably fits the
    session's ``spark.sql.autoBroadcastJoinThreshold`` (exact
    driver-side row count × row width), broadcast it and hash-spread
    the anchor side to core width — the scoring then runs in the
    P-way probe stage with no shuffle of pair rows at all. The anchor
    side holds the same rows the driver has just sized under the
    broadcast threshold, so that exchange is cheap on every call and
    needs no look at the side's current partitioning. Above the
    threshold (the 100 TB regime) the sort-merge path stands
    unchanged. Returns (l, r, use_broadcast)."""
    if not dim:
        return l, r, False
    try:
        raw = str(
            l.sparkSession.conf.get("spark.sql.autoBroadcastJoinThreshold")
        ).strip().lower()
        mult = {"b": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30}
        # Spark spells byte configs as '10485760b' / '10m' / '10mb'
        m = _re_size.fullmatch(raw)
        if not m:
            return l, r, False
        thresh = int(m.group(1)) * mult.get(m.group(2) or "b", 1)
        if raw.startswith("-"):
            thresh = -1
    except Exception:  # unparseable spelling -> keep the SMJ path
        return l, r, False
    # row-width estimate: 8·dim vector doubles + 80 bytes of fixed
    # overhead (id, norm, salt ints, object headers). Sound only for
    # FIXED-WIDTH id columns — arbitrary string ids (legal on the
    # expr backend) could make it an order-of-magnitude undercount
    # (ADVICE r13), so those keep the sort-merge path.
    from pyspark.sql import types as T

    id_type = r.schema[r.columns[1]].dataType
    if not isinstance(
        id_type,
        (
            T.ByteType, T.ShortType, T.IntegerType, T.LongType,
            T.FloatType, T.DoubleType, T.DateType, T.TimestampType,
        ),
    ):
        return l, r, False
    est_bytes = repl_rows * (8 * int(dim) + 80)
    if thresh <= 0 or est_bytes > thresh:
        return l, r, False
    # hash on the second (id) column (columns[0] is 'cell'):
    # corpus-cardinality key -> even spread (guide §2.5),
    # deterministic under task retry
    p = l.sparkSession.sparkContext.defaultParallelism
    return l.repartition(p, l.columns[1]), F.broadcast(r), True


def _salt_blocks(scored: DataFrame, salt: DataFrame) -> DataFrame:
    """Unordered block decomposition of each cell for self-pairing:
    every row draws a deterministic sub-group ``_g = xxhash64(id) mod
    s`` and replicates across blocks ``{_g, q}`` for ``q in [0, s)``
    (key ``(_bp, _bq) = (min, max)``) — ``s(s+1)/2`` blocks per cell,
    each unordered row pair lands in EXACTLY one block (intra-sub-
    group pairs in the diagonal block ``(g, g)``, cross pairs in
    ``{ga, gb}``), so downstream pair sets are bit-identical to the
    unsalted join while a mega-cell's quadratic spreads over the
    blocks. ``s = 1`` collapses to one ``(0, 0)`` block per cell."""
    return (
        scored.join(F.broadcast(salt), "cell")
        .withColumn(
            "_g",
            F.pmod(F.xxhash64(F.col("vec_id")), F.col("_s")).cast("int"),
        )
        .withColumn(
            "_q", F.explode(F.sequence(F.lit(0), F.col("_s") - 1))
        )
        .select(
            "cell",
            F.least(F.col("_g"), F.col("_q")).alias("_bp"),
            F.greatest(F.col("_g"), F.col("_q")).alias("_bq"),
            "_g",
            "vec_id",
            "e",
            "_nv",
        )
    )


def _norm_rows(pdf):
    """Stack a (e, _nv) frame slice into unit-normalized float64 rows
    + the id array (zero-norm rows normalize to the zero vector —
    cosine 0 against everything, same as the expression fold)."""
    import numpy as np

    X = np.stack(pdf["e"].to_numpy()).astype(np.float64)
    nv = pdf["_nv"].to_numpy().astype(np.float64)
    ids = pdf["vec_id"].to_numpy()
    Xn = np.divide(
        X, nv[:, None], out=np.zeros_like(X), where=nv[:, None] > 0
    )
    return Xn, ids


def _arrow_block_pairs(eps: float, block: int = 2048):
    """Per-BLOCK cosine-pair kernel for the Arrow backend: one
    blocked BLAS gemm per salt block (see :func:`_salt_blocks`)
    instead of ~|cell|²/2 interpreted higher-order-function folds.
    Diagonal blocks (``_bp == _bq``) pair all their rows; off-
    diagonal blocks pair sub-group ``_bp`` rows against sub-group
    ``_bq`` rows only (intra-sub-group pairs belong to the diagonal)
    — each unordered pair scores in exactly one block. Memory is
    bounded at ``block × |side|`` scores per step; only thresholded
    (a < b) pairs materialize."""
    import numpy as np
    import pandas as pd

    empty = {
        "a": pd.Series(dtype="int64"),
        "b": pd.Series(dtype="int64"),
    }

    def f(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame(empty)
        p = int(pdf["_bp"].iloc[0])
        q = int(pdf["_bq"].iloc[0])
        if p == q:
            A = B = pdf
        else:
            A = pdf[pdf["_g"] == p]
            B = pdf[pdf["_g"] == q]
            if not len(A) or not len(B):
                return pd.DataFrame(empty)
        Xa, ida = _norm_rows(A)
        Xb, idb = (Xa, ida) if A is B else _norm_rows(B)
        out_a: list = []
        out_b: list = []
        for s0 in range(0, len(ida), block):
            S = np.round(Xa[s0 : s0 + block] @ Xb.T, 9)
            ii, jj = np.nonzero(S >= eps)
            la = ida[ii + s0]
            lb = idb[jj]
            if p == q:
                # Diagonal: every unordered pair appears twice in the
                # symmetric gemm (and once as a self-pair) — keep the
                # strict upper triangle.
                mask = la < lb
                out_a.append(la[mask])
                out_b.append(lb[mask])
            else:
                # Off-diagonal: A (sub-group p) and B (sub-group q)
                # are DISJOINT, so each unordered cross pair scores
                # exactly once and self-pairs are impossible — emit
                # every hit, normalized to (min, max). An `la < lb`
                # mask here would silently drop the ~half of cross
                # pairs whose A-side id is the larger one.
                out_a.append(np.minimum(la, lb))
                out_b.append(np.maximum(la, lb))
        return pd.DataFrame(
            {
                "a": np.concatenate(out_a) if out_a else [],
                "b": np.concatenate(out_b) if out_b else [],
            }
        )

    return f


def _salt_side(
    scored: DataFrame, salt: DataFrame, id_name: str, vec_name: str,
    norm_name: str, own: str, other: str,
) -> DataFrame:
    """One side of the ORDERED salt-block pair join over a ``(cell,
    vec_id, e, _nv)`` assignment: each row takes its own sub-group
    ``own`` = xxhash64(id) mod s and replicates across all ``s``
    values of the OTHER side's sub-group ``other``, so joining on
    ``(cell, _ga, _gb)`` puts every ordered pair in exactly one
    block."""
    return (
        scored.select(
            "cell",
            F.col("vec_id").alias(id_name),
            F.col("e").alias(vec_name),
            F.col("_nv").alias(norm_name),
        )
        .join(F.broadcast(salt), "cell")
        .withColumn(
            own, F.pmod(F.xxhash64(F.col(id_name)), F.col("_s")).cast("int")
        )
        .withColumn(
            other, F.explode(F.sequence(F.lit(0), F.col("_s") - 1))
        )
        .drop("_s")
    )


def _pairs_within_cells(
    scored: DataFrame,
    eps: float,
    backend: str,
    max_cell_rows: int,
    max_salt: int,
    arrow_cell_threshold: int,
    id_is_integral: bool,
    fn: str,
    dim: int | None = None,
) -> DataFrame:
    """Shared cosine-threshold pair stage over a ``(cell, vec_id, e,
    _nv)`` assignment: resolve ``auto`` → expr/arrow on the measured
    max-cell-size threshold, apply the mega-cell salt guard in BOTH
    backends (``_salt_blocks`` — the pair SET is invariant to the
    decomposition), and return thresholded ``(a, b)`` with
    ``a < b``. The expr path scores each block with the byte-stable
    JVM fold join; the arrow path scores each block with one blocked
    BLAS gemm task."""
    backend, salt, repl_rows, _ = _cell_pair_plan(
        scored,
        backend,
        arrow_cell_threshold,
        max_cell_rows,
        max_salt,
        id_is_integral,
        fn,
    )
    if backend == "arrow":
        _require_integral_id(scored, "vec_id", fn)
        sc = scored.sparkSession.sparkContext
        blocks = _salt_blocks(scored, salt)
        return (
            blocks.repartition(
                sc.defaultParallelism, "cell", "_bp", "_bq"
            )
            .groupBy("cell", "_bp", "_bq")
            .applyInPandas(_arrow_block_pairs(eps), "a long, b long")
        )
    # expr path: ORDERED block decomposition (ga(a), gb(b)) — each
    # side replicates across the OTHER side's s sub-groups and the
    # join key becomes (cell, ga, gb), so every ordered pair lands in
    # exactly one of the s² blocks: half the join work of the
    # unordered {p, q} scheme the arrow kernel uses (which needs one
    # grouped frame per block), and the exact plan shape the r5 gate
    # pinned.
    l = _salt_side(scored, salt, "a", "ea", "_na", "_ga", "_gb")
    r = _salt_side(scored, salt, "b", "eb", "_nb", "_gb", "_ga")
    denom = F.col("_na") * F.col("_nb")
    # statically-known width -> flat codegen'd sum; the interpreted
    # fold only remains for dynamic-width callers (see dot_unrolled).
    # The size gate (ADVICE r13) makes malformed-width rows NULL the
    # score and DROP — the fold's own null-padding behavior — instead
    # of silently truncating, and keeps the indexed reads in-bounds
    # under ANSI mode. Two O(1) size() reads per pair vs a dim-term
    # sum: noise.
    if dim:
        widths_ok = (F.size("ea") == int(dim)) & (
            F.size("eb") == int(dim)
        )
        pdot = F.when(widths_ok, dot_unrolled("ea", "eb", dim))
    else:
        pdot = dot("ea", "eb")
    pscore = F.round(
        F.when(denom > 0, pdot / denom).otherwise(F.lit(0.0)),
        9,
    )
    l, r, _ = _pair_join_parallel(l, r, repl_rows, dim)
    return (
        l.join(r, ["cell", "_ga", "_gb"])
        .filter(F.col("a") < F.col("b"))
        .filter(pscore >= eps)
        .select("a", "b")
    )


def semantic_dedup(
    df: DataFrame,
    n_cells: int = 16,
    eps: float = 0.3,
    vec_col: ColumnLike = "embedding",
    id_col: ColumnLike = "vec_id",
    centroids: list[list[float]] | None = None,
    cache: bool = False,
    max_cell_rows: int = 1 << 16,
    max_salt: int = 64,
    cache_registry: list | None = None,
    pair_backend: str = "auto",
    arrow_cell_threshold: int = 1024,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    near-duplicate marking driven by a coarse k-means/IVF partition of
    the embedding space rather than LSH recall — the paper's pipeline
    for pruning web-scale training sets (LAION/C4) by meaning, not
    surface form. Complements :func:`~..functions.dedup.dedup_clusters`
    (text MinHash) and the hyperplane-LSH embedding pair stage.

    Pipeline, expression-first throughout:

    1. assign every vector its nearest of ``n_cells`` centroids
       (:func:`ivf_cell` — one codegen'd fold per row, no shuffle);
       default centroids are the deterministic md5-sampled quantizer
       (:func:`ivf_centroids`), refinable via ``centroids=`` (e.g.
       :func:`kmeans_refine`).
    2. WITHIN each cell, cosine-threshold pairs (``>= eps``) via a
       cell-keyed self-join — linear bucketing, intra-cell quadratic:
       the paper's own cost model. At 100 TB, size ``n_cells`` so
       |cell| ~ corpus/K stays join-friendly (the paper uses K ~ 10^5);
       uneven cells are AQE skew-split on the join key.
    3. connected components over the thresholded pairs only (tiny vs
       corpus): one bounded collect of at most 1M + 1 symmetrized
       edges feeds a driver union-find — one SQL execution, nothing
       persisted — and a larger edge list takes the join loop
       (:func:`~.graph.connected_components`).
    4. one survivor per duplicate group: the vector with the LOWEST
       cosine to its cell centroid (the paper's keep-the-outlier rule
       — maximizes retained diversity), ties to the lowest id. Rank-1
       flag per component, a single window pass.

    All cosines round to 9 dp (engine-stable argmax/threshold, same
    quantization as :func:`ivf_cell`). ``cache=True`` persists the
    assigned/scored table so the pair join and the final assignment
    read one computation; the persisted table lives until session
    end (or ``spark.catalog.clearCache()``) unless the caller passes
    ``cache_registry=[]`` — the persisted DataFrame is appended to it
    so the caller can ``unpersist()`` after consuming the result
    (long-lived sessions invoking repeatedly should do one or the
    other; the streaming admitter forces ``cache=False``).

    Mega-cell skew guard: relying on AQE to split uneven cells is not
    enough at 100 TB — a duplicate-heavy corpus can put a large slice
    of the corpus in ONE cell, and the intra-cell quadratic stage
    becomes a single straggler task. Cells whose row count exceeds
    ``max_cell_rows`` are block-decomposed exactly (the
    ``salted_join`` pattern applied to a self-join): each row gets a
    deterministic sub-group in ``[0, s)`` with
    ``s = min(ceil(n / max_cell_rows), max_salt)``, the left side
    replicates each row across all ``s`` right-sub-groups and vice
    versa, and the join key becomes ``(cell, ga, gb)`` — every
    ordered pair lands in exactly ONE of the s² blocks, so the pair
    set (and the result) is bit-identical to the unguarded join
    while the mega-cell's quadratic work spreads over s² tasks.
    Normal cells get ``s = 1`` (single block, plan unchanged beyond
    the count-aggregate that sizes the salt, itself a broadcast-
    joined K-row table).

    ``pair_backend`` picks the intra-cell scoring engine:

    - ``"auto"`` (default — the scale-safe path is no longer
      opt-in): ONE eager count over the cell assignment picks
      ``"arrow"`` when the largest cell reaches
      ``arrow_cell_threshold`` rows (the measured regime where the
      gemm kernel wins 10-100×), else ``"expr"``; with
      ``cache=True`` the probe doubles as cache materialization.
      Non-integral id columns always resolve to ``"expr"``.
    - ``"expr"``: the pure-Column dot-product fold — JVM-side,
      byte-stable left-to-right sums, the oracle-gated path; pairs
      spread over the s² ordered salt blocks for mega-cells.
    - ``"arrow"``: per-block blocked BLAS gemm via ``applyInPandas``
      (requires an integral id column; the fold evaluates higher-
      order functions interpreted, one lambda step per vector
      element per pair). The salt guard applies here too — a
      mega-cell decomposes into s(s+1)/2 unordered gemm blocks
      (:func:`_salt_blocks`), so no cell is ever one straggler
      task. Caveat: BLAS sums floats in a different order than the
      fold (scores within ~1e-12; a pair whose TRUE cosine sits
      within float-sum error of ``eps`` can differ between backends
      or between block decompositions — threshold margins in
      practice dwarf this).

    Returns one row per input vector:
    ``(vec_id, cell, component, centroid_cos, keep)`` — ``keep`` is
    1 for the group survivor (singletons keep themselves),
    ``component`` is the group id (min member id), ``centroid_cos``
    the 6-dp display rounding of the 9-dp assignment score.

    Reference anchor: the reference has no embedding-space dedup;
    this extends its dedup surface for LLM corpus curation
    (BASELINE.json north_star).
    """
    from pyspark.sql import Window
    from pyspark.storagelevel import StorageLevel

    from .graph import connected_components

    derived = centroids is None
    if derived:
        centroids = ivf_centroids(df, n_cells, vec_col, id_col)
    if not centroids:
        # a DERIVED empty quantizer means the corpus itself is empty
        # → empty typed result; an explicitly passed empty list is a
        # caller bug (e.g. a missing persisted quantizer loaded as
        # []) and silently dropping the corpus would be catastrophic
        if not derived:
            raise ValueError(
                "semantic_dedup: explicit centroids list is empty"
            )
        return df.limit(0).select(
            _col(id_col).alias("vec_id"),
            F.lit(0).alias("cell"),
            _col(id_col).alias("component"),
            F.lit(0.0).alias("centroid_cos"),
            F.lit(0).alias("keep"),
        )
    # ONE fold per row yields both the cell and its 9-dp score (no
    # centroid re-join, no second cosine); the row norm is computed
    # once here and HOISTED out of the quadratic pair stage below —
    # the pair score costs one dot-product fold, not three.
    base = df.select(
        _col(id_col).alias("vec_id"), _col(vec_col).alias("e")
    ).withColumn("_nv", norm("e"))
    scored = base.withColumn(
        "_a", ivf_assign("e", centroids, norm_col="_nv")
    ).select(
        "vec_id",
        "e",
        "_nv",
        F.col("_a").getField("cid").alias("cell"),
        F.col("_a").getField("score").alias("_ccos"),
    )
    if cache:
        scored = scored.persist(StorageLevel.MEMORY_AND_DISK)
        if cache_registry is not None:
            cache_registry.append(scored)
    pairs = _pairs_within_cells(
        scored.select("cell", "vec_id", "e", "_nv"),
        eps,
        pair_backend,
        max_cell_rows,
        max_salt,
        arrow_cell_threshold,
        _integral_id_ok(df, id_col),
        "semantic_dedup",
        dim=len(centroids[0]),
    )
    return _semantic_label(scored, pairs)


def bucketed_cosine_pairs(
    df: DataFrame,
    eps: float,
    bits: int = 8,
    vec_col: ColumnLike = "embedding",
    id_col: ColumnLike = "vec_id",
    seed: int = 7,
    backend: str = "auto",
    max_cell_rows: int = 1 << 16,
    max_salt: int = 64,
    arrow_cell_threshold: int = 1024,
) -> DataFrame:
    """Cosine-thresholded near-dup pairs via hyperplane-LSH buckets —
    the generic pair stage behind the `dedup_embedding_pairs` /
    `embedding_clusters` corpus queries, exposed as API: bucket on
    sign-projections (:func:`hyperplane_bucket` — linear), compare
    only WITHIN buckets (quadratic per bucket — size ``bits`` so
    buckets stay join-friendly), keep 9-dp cosine ≥ ``eps``. Returns
    ``(a, b)`` with ``a < b``.

    The pair stage is :func:`semantic_dedup`'s shared scale-safe
    engine (:func:`_pairs_within_cells`): ``backend="auto"`` picks
    the blocked-gemm Arrow kernel when the largest bucket reaches
    ``arrow_cell_threshold`` rows (integral ids only — non-integral
    ids resolve to the expression fold; explicit ``"arrow"`` raises
    on them), and buckets beyond ``max_cell_rows`` block-decompose
    under the mega-bucket salt guard in BOTH backends (exact — the
    pair set is invariant to the decomposition). Same float-sum
    caveat as :func:`semantic_dedup` between backends at practical
    margins. Recall is the single-table LSH recall — union pairs
    over several ``seed``s for the multi-table boost, or use
    MinHash/:func:`semantic_dedup` for the cell-partitioned
    variants.

    Note: dimensionality is inferred from the first non-NULL vector,
    which (like the ``auto`` probe) runs a small EAGER job at
    plan-build time."""
    if backend not in ("auto", "expr", "arrow"):
        raise ValueError(
            f"bucketed_cosine_pairs: unknown backend {backend!r}"
        )
    first = (
        df.select(_col(vec_col).alias("_v"))
        .filter(F.col("_v").isNotNull())
        .first()
    )
    if first is None:
        # empty corpus (or all-NULL vectors): typed empty pair set
        return df.limit(0).select(
            _col(id_col).alias("a"), _col(id_col).alias("b")
        )
    planes = random_hyperplanes(len(first[0]), bits, seed)
    base = df.select(
        _col(id_col).alias("vec_id"), _col(vec_col).alias("e")
    ).withColumn("_nv", norm("e")).withColumn(
        "cell", hyperplane_bucket("e", planes)
    )
    return _pairs_within_cells(
        base.select("cell", "vec_id", "e", "_nv"),
        eps,
        backend,
        max_cell_rows,
        max_salt,
        arrow_cell_threshold,
        _integral_id_ok(df, id_col),
        "bucketed_cosine_pairs",
        dim=len(first[0]),
    )


def _semantic_label(scored: DataFrame, pairs: DataFrame) -> DataFrame:
    """Shared tail of :func:`semantic_dedup`: connected components
    over the thresholded pairs, min-id group labels, and the
    keep-the-outlier survivor rank — identical for both pair
    backends."""
    from pyspark.sql import Window

    from .graph import connected_components

    comps = connected_components(pairs, "a", "b")
    labeled = (
        scored.join(comps, scored["vec_id"] == comps["node"], "left")
        .select(
            "vec_id",
            "cell",
            F.coalesce(F.col("component"), F.col("vec_id")).alias(
                "component"
            ),
            "_ccos",
        )
    )
    w = Window.partitionBy("component").orderBy(
        F.col("_ccos").asc(), F.col("vec_id").asc()
    )
    return labeled.select(
        "vec_id",
        "cell",
        "component",
        F.round(F.col("_ccos"), 6).alias("centroid_cos"),
        (F.row_number().over(w) == 1).cast("int").alias("keep"),
    )


def _arrow_block_hardest_positive(block: int = 2048):
    """Per-BLOCK kernel for ``contrastive_pairs(backend="arrow")``:
    blocked gemm + per-anchor argmax (ties to the lowest candidate
    id — identical to the expression path's (score desc, id asc)
    rank) instead of one interpreted fold per intra-cell pair.
    Under the salt guard an anchor's candidates spread across its
    blocks, so the kernel emits a per-block PARTIAL best (9-dp
    score) and the caller reduces per anchor with the same
    (score desc, id asc) ordering — exact: each candidate is scored
    in exactly one block. Diagonal blocks score all-vs-all minus
    self; off-diagonal blocks score both cross directions."""
    import numpy as np
    import pandas as pd

    empty = {
        "vec_id": pd.Series(dtype="int64"),
        "pos_id": pd.Series(dtype="int64"),
        "pos_cos": pd.Series(dtype="float64"),
    }

    def run(Xa, ida, Xb, idb, self_pair, out):
        sentinel = idb.max() + 1
        for s0 in range(0, len(ida), block):
            S = np.round(Xa[s0 : s0 + block] @ Xb.T, 9)
            if self_pair:
                rows = np.arange(S.shape[0])
                S[rows, rows + s0] = -np.inf  # exclude self
            best = S.max(axis=1)
            cand = np.where(S == best[:, None], idb[None, :], sentinel)
            pos = cand.min(axis=1)
            keep = best > -np.inf  # anchors with >=1 candidate
            out[0].append(ida[s0 : s0 + block][keep])
            out[1].append(pos[keep])
            out[2].append(best[keep])

    def f(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame(empty)
        p = int(pdf["_bp"].iloc[0])
        q = int(pdf["_bq"].iloc[0])
        out: tuple = ([], [], [])
        if p == q:
            Xa, ida = _norm_rows(pdf)
            run(Xa, ida, Xa, ida, True, out)
        else:
            A = pdf[pdf["_g"] == p]
            B = pdf[pdf["_g"] == q]
            if not len(A) or not len(B):
                return pd.DataFrame(empty)
            Xa, ida = _norm_rows(A)
            Xb, idb = _norm_rows(B)
            run(Xa, ida, Xb, idb, False, out)
            run(Xb, idb, Xa, ida, False, out)
        if not out[0]:
            return pd.DataFrame(empty)
        return pd.DataFrame(
            {
                "vec_id": np.concatenate(out[0]),
                "pos_id": np.concatenate(out[1]),
                "pos_cos": np.concatenate(out[2]),
            }
        )

    return f


def _reduce_hardest_positive(partial: DataFrame) -> DataFrame:
    """Reduce per-block partial bests to the global per-anchor best
    with the expression path's exact ordering: score desc (9-dp),
    ties to the LOWEST candidate id; display-round to 6 dp last."""
    best = F.max_by(
        F.struct("pos_id", "pos_cos"),
        F.struct(F.col("pos_cos"), -F.col("pos_id")),
    )
    return (
        partial.groupBy("vec_id")
        .agg(best.alias("_b"))
        .select(
            "vec_id",
            F.col("_b.pos_id").alias("pos_id"),
            F.round(F.col("_b.pos_cos"), 6).alias("pos_cos"),
        )
    )


def contrastive_pairs(
    df: DataFrame,
    n_cells: int = 16,
    vec_col: ColumnLike = "embedding",
    id_col: ColumnLike = "vec_id",
    centroids: list[list[float]] | None = None,
    seed: int = 7,
    backend: str = "auto",
    cache_registry: list | None = None,
    max_cell_rows: int = 1 << 16,
    max_salt: int = 64,
    arrow_cell_threshold: int = 1024,
) -> DataFrame:
    """Contrastive training-pair mining over an embedding corpus:
    for every vector, its HARDEST in-cell positive (the nearest
    same-cell neighbor by 9-dp cosine — ties to the lowest id;
    singleton cells yield NULL) and a deterministic cross-cell
    NEGATIVE (the corpus row with the smallest ``md5(seed‖id)`` among
    rows of OTHER cells — shared per cell, the in-batch-negative
    idiom). The (anchor, positive, negative) triples are the data
    shape contrastive embedding training consumes (SimCLR/DPR-style).

    Shape: cell assignment is one codegen'd fold per row; positives
    come from ONE shuffle on ``cell`` (intra-cell quadratic — the
    SemDeDup cost model; size ``n_cells`` so |cell| stays
    join-friendly) followed by a per-anchor WindowGroupLimit top-1;
    negatives ride the salt-width per-cell pass (each cell's min-md5
    row; the two winners fold in as driver literals — r14) — no
    extra aggregate jobs, no corpus-scale randomness join.

    ``backend="auto"`` (default) resolves exactly like
    :func:`semantic_dedup`: one eager count over the cell assignment
    picks the blocked-gemm Arrow kernel when the largest cell
    reaches ``arrow_cell_threshold`` rows (integral ids only), else
    the byte-stable expression fold — and the mega-cell salt guard
    (``max_cell_rows`` / ``max_salt``) block-decomposes oversized
    cells in BOTH backends (exact: every (anchor, candidate) pair
    scores in one block; partial per-block argmaxes reduce with the
    same (score desc, id asc) ordering).

    Degenerate-mining caveats (both emit valid rows, not errors):
    singleton cells yield ``pos_id``/``pos_cos`` NULL (no in-cell
    candidate), and if EVERY vector lands in one cell there is no
    "other cell" to draw from, so ``neg_id`` is NULL for all rows —
    downstream training-pair consumers should treat NULL
    ``neg_id``/``pos_id`` as "mining degenerated here" (refine
    centroids or raise ``n_cells``) rather than as usable triples.

    Reference anchor: no analog; LLM-pipeline extension surface
    (BASELINE.json north_star)."""
    from pyspark.sql import Window

    derived = centroids is None
    if derived:
        centroids = ivf_centroids(df, n_cells, vec_col, id_col)
    if not centroids:
        if not derived:
            raise ValueError(
                "contrastive_pairs: explicit centroids list is empty"
            )
        return df.limit(0).select(
            _col(id_col).alias("vec_id"),
            F.lit(0).alias("cell"),
            _col(id_col).alias("pos_id"),
            F.lit(0.0).alias("pos_cos"),
            _col(id_col).alias("neg_id"),
        )
    from pyspark.storagelevel import StorageLevel

    base = df.select(
        _col(id_col).alias("vec_id"), _col(vec_col).alias("e")
    ).withColumn("_nv", norm("e"))
    # persisted: FIVE consumers read the assignment (both pair-join
    # sides, the two negative aggregates, and the final join) — the
    # same one-tokenize-pass rule as unigram_doc_scores; without it
    # the K-fold assignment runs per consumer
    assigned = base.withColumn(
        "_a", ivf_assign("e", centroids, norm_col="_nv")
    ).select(
        "vec_id", "e", "_nv", F.col("_a").getField("cid").alias("cell")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    if cache_registry is not None:
        # same lifetime contract as semantic_dedup(cache=True): the
        # persisted assignment lives until session end unless the
        # caller unpersists it through this handle
        cache_registry.append(assigned)
    scored = assigned.select("cell", "vec_id", "e", "_nv")
    # negative mining rides the salt-width pass (r14, guide §1.2/§5):
    # the deterministic cross-cell negative needs only each cell's
    # min-md5 row, so aggregate it per cell in the SAME job that
    # sizes the salts and pick the two winners driver-side — the
    # former in-plan m1/m2 aggregates cost two more scans of the
    # cached assignment plus their broadcast jobs per run.
    hkey = F.md5(
        F.concat(F.lit(str(seed)), F.col("vec_id").cast("string"))
    )
    backend, salt, repl_rows, cells = _cell_pair_plan(
        scored,
        backend,
        arrow_cell_threshold,
        max_cell_rows,
        max_salt,
        _integral_id_ok(df, id_col),
        "contrastive_pairs",
        extra_aggs=[
            F.min_by(F.col("vec_id"), hkey).alias("_nid"),
            F.min(hkey).alias("_nh"),
        ],
    )
    # same winners as the former global aggregates: m1 = the min-md5
    # row corpus-wide; m2 = the min-md5 row among OTHER cells (md5 of
    # distinct ids never collides, so ties are impossible)
    ranked = sorted(cells, key=lambda r: r["_nh"])
    n1, c1 = (ranked[0]["_nid"], ranked[0]["cell"]) if ranked else (None, None)
    n2 = next(
        (r["_nid"] for r in ranked if r["cell"] != c1), None
    )
    if backend == "arrow":
        _require_integral_id(scored, "vec_id", "contrastive_pairs")
        sc = df.sparkSession.sparkContext
        partial = (
            _salt_blocks(scored, salt)
            .repartition(sc.defaultParallelism, "cell", "_bp", "_bq")
            .groupBy("cell", "_bp", "_bq")
            .applyInPandas(
                _arrow_block_hardest_positive(),
                "vec_id long, pos_id long, pos_cos double",
            )
        )
        return _contrastive_negatives(
            assigned, _reduce_hardest_positive(partial), n1, c1, n2
        )
    # expr path: ORDERED salt blocks — every ordered (anchor, cand)
    # pair lands in exactly block (ga(anchor), gb(cand)), so the
    # per-anchor (score desc, id asc) rank sees each candidate once;
    # s = 1 cells keep the plain single-block cell join.
    l = _salt_side(assigned, salt, "anchor", "ea", "_na", "_ga", "_gb")
    r = _salt_side(assigned, salt, "cand", "eb", "_nb", "_gb", "_ga")
    denom = F.col("_na") * F.col("_nb")
    # centroids fix the vector width -> flat codegen'd sum instead of
    # the interpreted fold on every candidate pair (see dot_unrolled);
    # size-gated like _pairs_within_cells so malformed-width rows
    # NULL out (the fold's null-pad behavior) instead of truncating
    _cdim = len(centroids[0])
    _wok = (F.size("ea") == _cdim) & (F.size("eb") == _cdim)
    pcos = F.round(
        F.when(
            denom > 0,
            F.when(_wok, dot_unrolled("ea", "eb", _cdim)) / denom,
        ).otherwise(F.lit(0.0)),
        9,
    )
    w = Window.partitionBy("anchor").orderBy(
        F.col("_pc").desc(), F.col("cand").asc()
    )
    l, r, _ = _pair_join_parallel(l, r, repl_rows, len(centroids[0]))
    pos = (
        l.join(r, ["cell", "_ga", "_gb"])
        .filter(F.col("anchor") != F.col("cand"))
        .select("anchor", "cand", pcos.alias("_pc"))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            F.col("anchor").alias("vec_id"),
            F.col("cand").alias("pos_id"),
            F.round(F.col("_pc"), 6).alias("pos_cos"),
        )
    )
    return _contrastive_negatives(assigned, pos, n1, c1, n2)


def _contrastive_negatives(
    assigned: DataFrame, pos: DataFrame, n1, c1, n2
) -> DataFrame:
    """Shared tail of :func:`contrastive_pairs`: deterministic
    cross-cell negatives — winner #1 = global min-md5 row; winner #2
    = min-md5 row among cells other than #1's. A cell's negative is
    #1 unless the anchor shares #1's cell, then #2. The winners are
    driver-computed LITERALS from the fused per-cell pass (r14): the
    former in-plan m1/m2 aggregates re-scanned the assignment twice
    and broadcast two one-row tables per run."""
    id_t = assigned.schema["vec_id"].dataType
    lit1 = F.lit(n1).cast(id_t)
    lit2 = F.lit(n2).cast(id_t)
    return (
        assigned.select("vec_id", "cell")
        .join(pos, "vec_id", "left")
        .select(
            "vec_id",
            "cell",
            "pos_id",
            "pos_cos",
            F.when(F.col("cell") != F.lit(c1), lit1)
            .otherwise(lit2)
            .alias("neg_id"),
        )
    )


def ivf_knn_join(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
    vec_col: ColumnLike = "embedding",
    id_col: ColumnLike = "vec_id",
    query_vec_col: ColumnLike = "embedding",
    query_id_col: ColumnLike = "query_id",
    centroids: list[list[float]] | None = None,
    round_to: int = 6,
    score_backend: str = "expr",
) -> DataFrame:
    """Batch ANN k-NN join: IVF-pruned retrieval for a whole query
    SET — the approximate counterpart of :func:`knn_join`, probing
    only each query's ``nprobe`` nearest cells instead of scoring the
    full corpus per query.

    ``score_backend="arrow"`` scores candidates with a per-cell
    blocked BLAS gemm over a corpus/probe COGROUP instead of one
    interpreted higher-order-function fold per (query, candidate) —
    the same ~10× lever as ``semantic_dedup(pair_backend="arrow")``
    and the right shape for big batch-retrieval jobs; the expression
    fold stays the byte-stable oracle default (BLAS float-sum order
    and numpy's round-half-even differ in the last ulp — margins in
    practice dwarf this).

    Scale shape: corpus cell assignment is one codegen'd fold pass
    (no shuffle; reuse a :func:`materialize_ivf` store to skip even
    that and get partition pruning); per-query probe cells come from
    the K-row centroid literal inlined on each query row;
    candidate generation joins the corpus on ``cell`` against the
    BROADCAST (query, cell) probe list, so the corpus streams once
    and only rows in probed cells are ever scored — candidate volume
    is ~|queries| * nprobe * |cell|, not |queries| * |corpus|.
    Per-query top-k is the same WindowGroupLimit rank as
    :func:`knn_join`.

    Probe-cell ranking quantizes at 9 dp with ties to the lowest
    cell id (identical to :func:`ivf_cell`/:func:`ivf_topk`); scores
    round to ``round_to`` dp before ranking with ties on corpus id
    (engine-independent, oracle-stable)."""
    derived = centroids is None
    if derived:
        centroids = ivf_centroids(corpus, n_cells, vec_col, id_col)
    if not centroids:
        # same contract as semantic_dedup: derived-empty = empty
        # corpus (typed empty result); explicit empty = caller bug
        if not derived:
            raise ValueError(
                "ivf_knn_join: explicit centroids list is empty"
            )
        q0 = queries.limit(0).select(_col(query_id_col).alias("query_id"))
        c0 = corpus.limit(0).select(_col(id_col).alias("vec_id"))
        return q0.crossJoin(c0).withColumn("score", F.lit(0.0))
    corpus, (cid, cv) = _named(corpus, id_col, vec_col)
    assigned = corpus.selectExpr(
        f"{cid} AS vec_id", f"{cv} AS _cv", f"{_norm_sql(cv)} AS _cn"
    ).withColumn("cell", ivf_cell("_cv", centroids, norm_col="_cn"))
    # each query's nprobe cells in one row-local expression, no join or
    # window: the centroid literal ivf_assign folds over, scored with
    # hoisted norms (same quantization and sqrt/multiply order as
    # cosine()/ivf_assign), sorted by (score desc, cell asc) — the
    # descending sort_array puts NaN first and NULL last, as a window's
    # ORDER BY score DESC does — then cut to nprobe and exploded
    ranked = (
        f"sort_array(transform({_centroid_table(centroids)}, c -> "
        f"named_struct('s', round({_cos_sql('_qv', 'c.cvec', '_qn * c.cnorm')}, 9), "
        "'n', -c.cid)), false)"
    )
    queries, (qid, qv) = _named(queries, query_id_col, query_vec_col)
    probes = queries.selectExpr(
        f"{qid} AS query_id", f"{qv} AS _qv", f"{_norm_sql(qv)} AS _qn"
    ).withColumn(
        "_pcell",
        F.expr(
            f"explode(transform(slice({ranked}, 1, {max(0, int(nprobe))}), "
            "p -> -p.n))"
        ),
    )
    if score_backend == "arrow":
        qid_type = dict(probes.dtypes)["query_id"]
        vid_type = dict(assigned.dtypes)["vec_id"]
        out_schema = (
            f"query_id {qid_type}, vec_id {vid_type}, score double"
        )

        def score_cell(corpus_pdf, probe_pdf):
            import numpy as np
            import pandas as pd

            if len(corpus_pdf) == 0 or len(probe_pdf) == 0:
                return pd.DataFrame(
                    {"query_id": [], "vec_id": [], "score": []}
                )
            X = np.stack(corpus_pdf["_cv"].to_numpy()).astype(np.float64)
            cn = corpus_pdf["_cn"].to_numpy().astype(np.float64)
            Q = np.stack(probe_pdf["_qv"].to_numpy()).astype(np.float64)
            qn = probe_pdf["_qn"].to_numpy().astype(np.float64)
            Xn = np.divide(
                X, cn[:, None], out=np.zeros_like(X), where=cn[:, None] > 0
            )
            Qn = np.divide(
                Q, qn[:, None], out=np.zeros_like(Q), where=qn[:, None] > 0
            )
            S = np.round(Xn @ Qn.T, int(round_to))  # (m, q)
            m, q = S.shape
            return pd.DataFrame(
                {
                    "query_id": np.repeat(
                        probe_pdf["query_id"].to_numpy(), m
                    ),
                    "vec_id": np.tile(corpus_pdf["vec_id"].to_numpy(), q),
                    "score": S.T.ravel(),
                }
            )

        scored = (
            assigned.select("cell", "vec_id", "_cv", "_cn")
            .groupBy("cell")
            .cogroup(probes.groupBy("_pcell"))
            .applyInPandas(score_cell, out_schema)
        )
    elif score_backend == "expr":
        # norms hoisted: the per-candidate score is ONE dot-product
        # fold. The cell equality becomes the broadcast hash join's key.
        scored = (
            assigned.crossJoin(F.broadcast(probes))
            .filter("cell = _pcell")
            .withColumn(
                "score",
                F.expr(
                    f"round({_cos_sql('_cv', '_qv', '_cn * _qn')}, "
                    f"{int(round_to)})"
                ),
            )
        )
    else:
        raise ValueError(
            f"ivf_knn_join: unknown score_backend {score_backend!r}"
        )
    return _top_k_per_query(scored, k)


def embedding_mean_cov(df: DataFrame, vec_col: ColumnLike = "embedding"):
    """Corpus mean vector and covariance matrix of an embedding
    column, via Arrow-batched PARTIAL aggregation: every partition
    reduces its rows to one ``(n, Σx, Σxxᵀ)`` row with numpy (a
    single einsum per Arrow batch), and only those d²-float partials
    cross the wire — at 100 TB the driver combines #partitions rows
    and never sees a vector. The canonical two-phase
    distributed-covariance shape (same algebra MLlib's RowMatrix
    uses).

    Partial size is d² doubles: ~8 MB at d=1024 but ~134 MB at
    d=4096 — for wide embeddings ``coalesce`` the input first so
    #partitions × d² stays driver-friendly (the combine is a plain
    sum, so fewer/larger partials lose nothing).

    NULL vectors are excluded. Returns ``(n, mean, cov)`` with numpy
    arrays (cov is the unbiased / n−1 estimator). Raises ValueError
    on an empty input or on inconsistent vector widths (checked both
    within partials and across them).

    Float caveat: partial-sum order varies with partitioning, so
    results are reproducible only to float tolerance (like
    :func:`kmeans_refine`) — pytest-pinned against numpy, no DuckDB
    oracle by design."""
    import numpy as np
    import pandas as pd

    from ..operators.elementwise import _col as _c

    def _partials(it):
        n = 0
        s = None
        o = None
        for pdf in it:
            if not len(pdf):
                continue
            vals = [
                np.asarray(v, dtype=np.float64)
                for v in pdf["v"]
                if v is not None
            ]
            if not vals:
                continue
            widths = {v.shape[0] for v in vals}
            if s is not None:
                widths.add(s.shape[0])
            if len(widths) != 1:
                raise ValueError(
                    "embedding_mean_cov: inconsistent embedding widths "
                    f"{sorted(widths)}"
                )
            arr = np.asarray(vals)
            if arr.ndim != 2:
                raise ValueError(
                    "embedding_mean_cov: inconsistent embedding widths"
                )
            n += arr.shape[0]
            if s is None:
                s = arr.sum(axis=0)
                o = arr.T @ arr
            else:
                s += arr.sum(axis=0)
                o += arr.T @ arr
        if n:
            yield pd.DataFrame(
                {
                    "n": [n],
                    "s": [s.tolist()],
                    "o": [o.reshape(-1).tolist()],
                }
            )

    rows = (
        df.select(_c(vec_col).alias("v"))
        .mapInPandas(_partials, "n long, s array<double>, o array<double>")
        .collect()
    )
    if not rows:
        raise ValueError("embedding_mean_cov: empty input")
    n = sum(r.n for r in rows)
    if len({len(r.s) for r in rows}) != 1:
        raise ValueError(
            "embedding_mean_cov: inconsistent embedding widths "
            "across partitions"
        )
    s = np.sum([np.asarray(r.s) for r in rows], axis=0)
    o = np.sum([np.asarray(r.o) for r in rows], axis=0)
    d = s.shape[0]
    mean = s / n
    if n < 2:
        raise ValueError("embedding_mean_cov: need at least 2 vectors")
    cov = (o.reshape(d, d) - n * np.outer(mean, mean)) / (n - 1)
    return n, mean, cov


def pca_components(
    df: DataFrame,
    k: int,
    vec_col: ColumnLike = "embedding",
):
    """Top-``k`` principal components of an embedding column:
    distributed covariance (:func:`embedding_mean_cov`) + a
    driver-side ``eigh`` on the d×d matrix (d≲4096 is milliseconds;
    the data never leaves the cluster). Eigenvector SIGNS are fixed
    deterministically (largest-|entry| coordinate made positive) so
    repeated runs agree up to float noise.

    Returns ``(mean, components, explained)``: components is a
    (k, d) numpy array sorted by decreasing eigenvalue, explained
    the corresponding variance-ratio vector."""
    import numpy as np

    _, mean, cov = embedding_mean_cov(df, vec_col)
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1][: int(k)]
    comps = vecs[:, order].T.copy()
    for row in comps:
        j = int(np.argmax(np.abs(row)))
        if row[j] < 0:
            row *= -1.0
    total = float(vals.sum()) or 1.0
    explained = vals[order] / total
    return mean, comps, explained


def pca_project(
    df: DataFrame,
    mean,
    components,
    vec_col: ColumnLike = "embedding",
    out_col: str = "pca",
    whiten: list | None = None,
) -> DataFrame:
    """Project vectors onto precomputed principal components as a
    PURE JVM expression: per output dim j the projection is
    ``dot(v, comp_j) − ⟨mean, comp_j⟩`` with the component and the
    centering constant folded in as literals — no Python, no
    shuffle, whole-row codegen, the same literal-fold shape as
    :func:`ivf_assign`. Pass ``whiten`` (the per-component variances,
    e.g. eigenvalues) to scale each dim by 1/√variance.

    Adds ``out_col`` (array<double>, length k) to ``df``."""
    comps = [[float(x) for x in c] for c in components]
    mu = [float(x) for x in mean]
    scales = None
    if whiten is not None:
        scales = [1.0 / (float(w) ** 0.5) if w > 0 else 0.0 for w in whiten]
    cols = []
    for j, c in enumerate(comps):
        shift = _pydot(mu, c)
        expr = dot(vec_col, c) - F.lit(shift)
        if scales is not None:
            expr = expr * F.lit(scales[j])
        cols.append(expr)
    return df.withColumn(out_col, F.array(*cols))


def quantize_embeddings(
    df: DataFrame,
    vec_col: ColumnLike = "embedding",
    id_col: ColumnLike = "vec_id",
    bits: int = 8,
) -> DataFrame:
    """Symmetric per-vector scalar quantization of an embedding
    column to ``bits``-bit integer codes — the 4× (float32→int8)
    memory/IO lever for corpus-scale ANN stores: at 100 TB the
    dominant ANN cost is streaming vectors, and int8 codes cut that
    stream 4× while keeping cosine recall high (codes are exact
    rationals, so downstream score arithmetic stays oracle-exact).

    Per vector: ``scale = max(|x_i|) / (2^(bits-1) - 1)`` and
    ``code_i = round(x_i / scale)`` (zero vectors → scale 0, all
    codes 0). Dequantization is ``code_i · scale``; cosine between
    dequantized vectors equals cosine between CODE vectors (the
    per-vector scale cancels), so :func:`quantized_topk` ranks on
    integer-dot arithmetic. Returns
    ``(vec_id, codes array<smallint>, scale)``.

    Reference anchor: no analog; ANN store extension surface
    (BASELINE.json north_star).
    """
    qmax = (1 << (int(bits) - 1)) - 1
    v = _col(vec_col)
    # stage the max as a real multi-reference column so the lambda
    # below reads it instead of re-deriving it per element (the
    # CollapseProject inlining rule — SCALING.md round-6 lesson)
    staged = df.select(
        _col(id_col).alias("vec_id"),
        v.alias("_v"),
        F.array_max(F.transform(v, lambda x: F.abs(x))).alias("_amax"),
    )
    amax = F.col("_amax")
    scale = amax / F.lit(float(qmax))
    codes = F.when(
        amax > 0,
        F.transform(
            F.col("_v"),
            lambda x: F.round(
                x / (F.col("_amax") / F.lit(float(qmax)))
            ).cast("smallint"),
        ),
    ).otherwise(
        F.transform(F.col("_v"), lambda x: F.lit(0).cast("smallint"))
    )
    return staged.select(
        "vec_id",
        codes.alias("codes"),
        F.round(scale, 9).alias("scale"),
    )


def quantized_topk(
    codes_df: DataFrame,
    query_codes: list[int],
    k: int = 10,
    trusted_dim: int | None = None,
) -> DataFrame:
    """Brute-force cosine top-k over a :func:`quantize_embeddings`
    store: the per-vector scale cancels in cosine, so the score is
    the INTEGER dot of code vectors over integer norms — exact
    BIGINT accumulation (codes ≤ 127 ⇒ products < 2^14·dim, no
    overflow to dim ≈ 2^48), one scan + TakeOrdered. 9-dp rounding
    for the usual engine-stable ordering; ties to lowest id.

    The query length is validated against the store's code dimension
    (first-row probe): a mismatch would make ``zip_with`` NULL-pad
    and the integer dot NULL, silently sorting mismatched queries
    last instead of surfacing the caller bug (ADVICE r6).

    ``trusted_dim``: when the caller has already validated both the
    query and the store dimension (:func:`ivf_topk_from_store` checks
    against the centroids, and the write path fixes the code width),
    the one-row dimension-probe JOB is skipped and a per-row width
    check raises instead: one fewer scheduled job per probe. Either
    way both integer folds are parsed SQL text (see the module
    docstring), so the query codes stay inside the interpreted fold
    and never compile a class of their own."""
    q = [int(x) for x in query_codes]
    arr = "CAST(array(" + ",".join(map(str, q)) + ") AS array<int>)"
    idot = F.expr(
        f"aggregate(zip_with(codes, {arr}, "
        "(x, y) -> CAST(x AS BIGINT) * CAST(y AS BIGINT)), "
        "CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )
    if trusted_dim and trusted_dim == len(q):
        # keep the r6 guarantee on the trusted path too (ADVICE r13):
        # if the store's codes ever disagree with the sidecar the
        # caller validated against (partial rewrite, mixed writer
        # versions), RAISE instead of letting zip_with NULL-pad and
        # silently sort mismatched rows last. One O(1) size() read
        # per row, no extra job.
        idot = F.when(F.size("codes") == len(q), idot).otherwise(
            F.raise_error(
                F.lit(
                    "quantized_topk: store code width != validated "
                    f"query dimension {len(q)} — store and sidecar "
                    "disagree (partial rewrite?)"
                )
            ).cast("bigint")
        )
    else:
        probe = codes_df.select(F.size("codes").alias("_d")).first()
        if probe is not None and probe["_d"] != len(q):
            raise ValueError(
                f"quantized_topk: query has {len(q)} codes but the "
                f"store's code dimension is {probe['_d']}"
            )
    cn = F.sqrt(
        F.expr(
            "aggregate(transform(codes, "
            "x -> CAST(x AS BIGINT) * CAST(x AS BIGINT)), "
            "CAST(0 AS BIGINT), (acc, v) -> acc + v)"
        ).cast("double")
    )
    qn = sum(x * x for x in q) ** 0.5
    score = F.round(
        F.when(
            (cn > 0) & (F.lit(float(qn)) > 0),
            idot.cast("double") / (cn * F.lit(float(qn))),
        ).otherwise(F.lit(0.0)),
        9,
    )
    return (
        codes_df.select("vec_id", score.alias("score"))
        .orderBy(F.col("score").desc(), F.col("vec_id").asc())
        .limit(int(k))
    )


def rrf_fuse(
    scored,
    k: int = 60,
    id_col: ColumnLike = "doc_id",
    score_col: ColumnLike = "score",
    max_list_rows: int | None = 10_000,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Büttcher, SIGIR
    2009) of N independently-scored candidate lists — the standard
    hybrid-retrieval combiner (BM25 ⊕ dense cosine, plus any other
    signal): each list ranks deterministically by ``(score DESC, id
    ASC)``, a doc earns ``1e9 div (k + rank)`` nano-points per list
    it appears in, and the fused table sums them. Integer division
    on BIGINT — rank math is engine-exact with no float in sight.
    Returns ``(doc_id, n_lists, rrf_nano)``.

    Scale: inputs are top-K candidate frames by construction (the
    output of a retrieval stage, not a corpus), so the per-list
    global rank window is a K-row single-partition sort and the fuse
    is one union + one groupBy on K·N rows. Feeding an unbounded
    corpus-sized frame through a global window would serialize on
    one task — bound the lists first (``.limit``/top-k), which is
    also what RRF's rank semantics assume. ``max_list_rows``
    (VERDICT r7 item 4) enforces that precondition at the API edge
    with ZERO extra jobs: each list is hard-bounded to
    ``max_list_rows + 1`` rows before the rank window (so the
    single-partition sort physically CANNOT see more — the overflow
    row rides along only as the tripwire), and a ``raise_error``
    projection fails the job the moment that overflow row
    materializes. (A probe-count guard was the first cut and was
    rejected by measurement: counting an unmaterialized top-K list
    re-executes its whole scoring subtree — 3× the hybrid-search
    probe wall at the ×1 tier.) Pass ``None`` to skip the guard when
    the caller already guarantees boundedness.

    Reference anchor: no analog; retrieval extension surface
    (BASELINE.json north_star)."""
    from pyspark.sql import Window

    frames = list(scored.values()) if isinstance(scored, dict) else list(scored)
    if len(frames) < 2:
        raise ValueError("rrf_fuse: need at least two scored lists")
    if k < 1:
        raise ValueError("rrf_fuse: k must be >= 1")
    if max_list_rows is not None:
        if max_list_rows < 1:
            raise ValueError("rrf_fuse: max_list_rows must be >= 1")
        frames = [f.limit(int(max_list_rows) + 1) for f in frames]
    out_name = id_col if isinstance(id_col, str) else "doc_id"
    w = Window.orderBy(F.col("_s").desc(), F.col("_id").asc())
    pts = F.expr(f"1000000000 DIV (_rnk + {int(k)})")
    if max_list_rows is not None:
        # the overflow tripwire: rank max_list_rows+1 can only exist
        # if a list exceeded the bound — fail the job, in-plan
        pts = F.when(
            F.col("_rnk") > int(max_list_rows),
            F.raise_error(
                F.lit(
                    "rrf_fuse: scored list exceeds max_list_rows="
                    f"{int(max_list_rows)}; RRF expects bounded top-K "
                    "candidate lists (rank over an unbounded frame "
                    "serializes on one task) — .limit() the list or "
                    "raise/disable max_list_rows explicitly"
                )
            ).cast("long"),
        ).otherwise(pts)
    parts = [
        f.select(
            _col(id_col).alias("_id"), _col(score_col).alias("_s")
        )
        .withColumn("_rnk", F.row_number().over(w))
        .select("_id", pts.alias("_pts"))
        for f in frames
    ]
    fused = parts[0]
    for p in parts[1:]:
        fused = fused.unionByName(p)
    return fused.groupBy(F.col("_id").alias(out_name)).agg(
        F.count(F.lit(1)).alias("n_lists"),
        F.sum("_pts").alias("rrf_nano"),
    )


def edit_distance_verify(
    df: DataFrame,
    pairs: DataFrame,
    max_dist_ratio: float = 0.2,
    text: ColumnLike = "text",
    id_col: ColumnLike = "doc_id",
) -> DataFrame:
    """VERIFY near-duplicate candidate pairs with true Levenshtein
    distance — the exact second stage after a recall-oriented
    candidate generator (MinHash/SimHash/winnowing): joins the text
    back onto ``(a, b)`` pairs and keeps pairs whose edit distance
    is at most ``max_dist_ratio`` of the longer text. Returns
    ``(a, b, dist, dist_ratio)``.

    Candidate pairs are corpus-rare by construction, so the two text
    joins touch only candidate rows (broadcast when pairs are small;
    shuffle-hash otherwise) and the O(len²) Levenshtein runs
    JVM-side per surviving pair — never all-pairs. A LENGTH
    prefilter runs before the DP: edit distance is at least the
    length difference, so any pair whose (6-dp-rounded, same as the
    final ratio) length-gap ratio already exceeds the bound skips
    the quadratic kernel entirely — EXACT (zero false drops), and at
    scale it eliminates the LSH false-positive band's worst cells
    (hash-collision pairs tend to be length-mismatched; true
    near-dups aren't). ``dist_ratio`` rounds to 6 dp (engine-stable).

    Deliberately NOT banded: Spark's thresholded ``levenshtein``
    (O(len·threshold)) with ``threshold = ceil(ratio · max corpus
    length)`` measured 1.4× SLOWER at the ×100 probe tier (1996 s vs
    1391 s over 27.1 M candidates) — near-dup candidates are
    similar-length, so a corpus-max-based band barely prunes while
    the thresholded kernel costs more per cell (SCALING.md)."""
    ta = df.select(
        _col(id_col).alias("a"), _col(text).alias("_ta")
    )
    tb = df.select(
        _col(id_col).alias("b"), _col(text).alias("_tb")
    )
    dist = F.levenshtein(F.col("_ta"), F.col("_tb"))
    longer = F.greatest(F.length("_ta"), F.length("_tb"))
    len_gap = F.abs(F.length("_ta") - F.length("_tb"))
    gap_ratio = F.when(
        longer > 0, len_gap.cast("double") / longer.cast("double")
    ).otherwise(F.lit(0.0))
    ratio = F.when(longer > 0, dist.cast("double") / longer.cast("double")).otherwise(
        F.lit(0.0)
    )
    return (
        pairs.join(ta, "a")
        .join(tb, "b")
        .filter(F.round(gap_ratio, 6) <= float(max_dist_ratio))
        .select(
            "a",
            "b",
            dist.cast("long").alias("dist"),
            F.round(ratio, 6).alias("dist_ratio"),
        )
        .filter(F.col("dist_ratio") <= float(max_dist_ratio))
    )


def embedding_audit(
    df: DataFrame,
    vec_col: ColumnLike = "embedding",
    id_col: ColumnLike = "vec_id",
) -> DataFrame:
    """Embedding-table integrity audit — the pre-flight every ANN /
    dedup job should run, because one NaN vector silently poisons
    cosine scores and centroid folds: per vector, its dimensionality
    and the degenerate-value counts ``(vec_id, dim, n_nan, n_inf,
    is_zero, is_null)``. NULL vectors get ``dim = 0`` and
    ``is_null = true`` instead of failing the scan. Pure Column
    (higher-order filters over the array), one stateless pass, no
    shuffle — run it as a filter (``is_null OR n_nan > 0 OR n_inf >
    0 OR is_zero``) to quarantine bad rows before indexing.

    Reference anchor: no analog; similarity extension surface
    (BASELINE.json north_star)."""
    v = _col(vec_col)
    null = v.isNull()
    n_nan = F.size(F.filter(v, F.isnan))
    n_inf = F.size(
        F.filter(v, lambda x: (x == float("inf")) | (x == float("-inf")))
    )
    sq = F.aggregate(
        F.filter(v, lambda x: ~F.isnan(x)),
        F.lit(0.0),
        lambda acc, x: acc + x * x,
    )
    zero = F.lit(0).cast("long")
    return df.select(
        _col(id_col).alias("vec_id"),
        F.when(null, F.lit(0)).otherwise(F.size(v)).cast("long").alias("dim"),
        F.when(null, zero).otherwise(n_nan.cast("long")).alias("n_nan"),
        F.when(null, zero).otherwise(n_inf.cast("long")).alias("n_inf"),
        F.when(null, F.lit(False))
        .otherwise((sq == 0.0) & (n_nan == 0))
        .alias("is_zero"),
        null.alias("is_null"),
    )


def _anti_join_store_ids(
    df: DataFrame, store: DataFrame, id_name: str
) -> DataFrame:
    """Drop incoming rows whose id already exists in ``store`` (the
    store's ``spark.read.parquet`` frame) — the batch-append id
    ledger (the store IS the ledger, same discipline as the streaming
    admitters). One id-column scan of the store per append; columnar,
    so the vectors never load."""
    existing = store.select(F.col(id_name).alias(id_name))
    return df.join(existing, on=id_name, how="left_anti")


def append_ivf(
    df: DataFrame,
    path: str,
    vec_col: ColumnLike = "embedding",
    id_col: str = "vec_id",
    skip_existing_ids: bool = True,
) -> None:
    """Append NEW vectors to an existing :func:`materialize_ivf`
    store: the persisted centroids (the store's on-disk contract)
    assign each vector its cell, and the rows land in the matching
    ``cell=`` partitions in append mode — existing files untouched,
    probes keep pruning, no rebuild. The quantized layout is
    auto-detected and preserved (codes + scale, same rounding).

    The QUANTIZER does not move: appended vectors are binned by the
    ORIGINAL centroids, which is exactly what a serving index wants
    (re-clustering would invalidate every probe's cell ranking).
    If the corpus drifts far from the quantizer, rebuild with
    :func:`materialize_ivf` / :func:`kmeans_refine`.

    REPLAY-IDEMPOTENT by default (round 8, VERDICT r7 item 7 — the
    crash-window discipline the streaming admitters already had):
    incoming ids already present in the store are anti-joined away
    against the store's own id column (the store IS the ledger), so
    a replayed append after a crash between sink-commit and
    checkpoint-commit writes NOTHING (store byte-identical), and a
    PARTIALLY committed append heals on replay — only the missing
    ids land. Cost: one columnar id scan of the store per append,
    inside the write's own job — there is no separate emptiness
    check, because a ``cell``-partitioned write of an empty frame
    writes no data file (the commit only rewrites ``_SUCCESS``);
    ``skip_existing_ids=False`` opts out for bulk loads where the
    caller guarantees novelty."""
    import os

    spark = df.sparkSession
    centroids = json.loads(
        _read_sidecar_text(spark, os.path.join(path, "_ivf_centroids"))
    )
    # one resolved relation serves both the id ledger and the layout
    # check below; the memo's key changes with every commit to path
    store = read_parquet_memo(spark, path)
    if skip_existing_ids:
        df = _anti_join_store_ids(df, store, id_col)
    assigned = (
        df.withColumn("_nv", norm(vec_col))
        .withColumn("cell", ivf_cell(vec_col, centroids, norm_col="_nv"))
        .drop("_nv")
    )
    quantized = "codes" in store.columns
    if quantized:
        codes = quantize_embeddings(df, vec_col, id_col)
        assigned = assigned.select(
            _col(id_col).alias("vec_id"), "cell"
        ).join(codes, "vec_id")
    assigned.write.mode("append").partitionBy("cell").parquet(path)


def append_lsh(
    df: DataFrame,
    path: str,
    bits: int = 8,
    vec_col: ColumnLike = "embedding",
    seed: int = 42,
    dim: int | None = None,
    id_col: str = "vec_id",
    skip_existing_ids: bool = True,
) -> None:
    """Append NEW vectors to a :func:`materialize_lsh` store: the
    planes are a pure function of ``(dim, bits, seed)`` — pass the
    SAME parameters the store was written with and the new rows land
    in the matching ``bucket=`` partitions in append mode (existing
    files untouched, probes keep pruning). Same id-ledger replay
    idempotence as :func:`append_ivf` (``skip_existing_ids``)."""
    if skip_existing_ids:
        store = df.sparkSession.read.parquet(path)
        df = _anti_join_store_ids(df, store, id_col)
        if df.isEmpty():
            return
    if dim is None:
        first = df.select(_col(vec_col)).first()
        if first is None:
            return
        dim = len(first[0])
    planes = random_hyperplanes(dim, bits, seed)
    assigned = df.withColumn("bucket", hyperplane_bucket(vec_col, planes))
    assigned.write.mode("append").partitionBy("bucket").parquet(path)


def neighbor_lists(
    pairs: DataFrame,
    k: int = 10,
    id_a: ColumnLike = "a",
    id_b: ColumnLike = "b",
    score: ColumnLike = "score",
) -> DataFrame:
    """Per-node top-k neighbor table from an UNDIRECTED pair list
    (the analysis export after any pair stage — SemDeDup cells, LSH
    buckets, k-NN joins): symmetrize, rank each node's neighbors
    (score desc, neighbor asc ties), keep ``k``. Flat output
    ``(node, rank, neighbor, score)`` — no nested collections, so
    it lands in any warehouse. The rank filter is WindowGroupLimit-
    eligible: each partition holds at most k rows per node before
    the shuffle.

    Reference anchor: no analog; similarity extension surface
    (BASELINE.json north_star)."""
    from pyspark.sql import Window

    if k < 1:
        raise ValueError("k must be positive")
    a, b, s = _col(id_a), _col(id_b), _col(score)
    sym = pairs.select(
        a.alias("node"), b.alias("neighbor"), s.alias("score")
    ).unionAll(
        pairs.select(b.alias("node"), a.alias("neighbor"), s.alias("score"))
    )
    w = Window.partitionBy("node").orderBy(
        F.col("score").desc(), F.col("neighbor").asc()
    )
    return (
        sym.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(k))
        .select("node", F.col("rank").cast("long").alias("rank"),
                "neighbor", "score")
    )
