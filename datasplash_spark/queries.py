"""Named query corpus: one entry per implemented operator
(SURVEY.md §2) plus the LLM-pipeline extensions, each paired with a
DuckDB oracle SQL string for the driver's correctness gate.

Cross-engine determinism rules used throughout:

- Row-level arithmetic (no aggregation) is IEEE-deterministic — no
  rounding needed.
- Aggregates over doubles are order-dependent in the last bits →
  every such output is ``round(x, 2..6)`` on BOTH sides.
- Timestamps are projected as epoch seconds (BIGINT) or DATE to avoid
  tz-awareness mismatches between Spark (TIMESTAMP_LTZ) and DuckDB.
- Hash-derived values (md5 / 60-bit md5 ints / DECIMAL-vs-HUGEINT
  affine permutations) are bit-exact across engines by construction.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions import chat as ch
from .functions import dedup as dd
from .pipeline import load_table, local_table, spread_scan
from .functions import similarity as sim
from .functions import text as tx
from .operators import (
    JoinSpec,
    cogroup_by,
    combine,
    combine_by,
    count_fn,
    dfilter,
    distinct,
    dkeep,
    dmapcat,
    except_distinct,
    fixed_windows,
    frequencies,
    frequencies_by,
    group_by_key,
    intersect_distinct,
    join_by,
    juxt,
    max_fn,
    mean_fn,
    min_fn,
    partition_by,
    percentile_fn,
    sample,
    session_windows,
    sliding_windows,
    sum_fn,
    top_k,
    union_distinct,
)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _ts(spark: SparkSession, sf_dir: str, name: str, *keys: str) -> DataFrame:
    """Spread-loaded table for per-row-HEAVY pipelines (shingle/
    minhash/codec/vector kernels): :func:`~.pipeline.spread_scan`
    widens a narrower-than-parallelism scan so the expensive map side
    uses every core (r13 optimization; measured: the corpus parquet is
    one row group, so these map sides ran as one multi-second task).
    Values are untouched — only partitioning changes — and on wide
    production scans this is a no-op."""
    return spread_scan(load_table(spark, sf_dir, name), *keys)


# =====================================================================
# Relational core (SURVEY §2.1/2.3/2.4/2.5)
# =====================================================================

def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: TPC-H-Q1-style pricing summary — filter + combine-by
    with fused combiners (map/filter/combine-by/juxt)."""
    li = _t(spark, sf_dir, "lineitem")
    flt = dfilter(li, F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return combine_by(
        flt,
        F.struct("l_returnflag", "l_linestatus"),
        F.round(sum_fn("l_quantity"), 2).alias("sum_qty"),
        F.round(sum_fn("l_extendedprice"), 2).alias("sum_base_price"),
        F.round(sum_fn(disc_price), 2).alias("sum_disc_price"),
        F.round(sum_fn(charge), 2).alias("sum_charge"),
        F.round(mean_fn("l_quantity"), 6).alias("avg_qty"),
        F.round(mean_fn("l_discount"), 6).alias("avg_disc"),
        count_fn().alias("count_order"),
    ).select(
        F.col("key.l_returnflag").alias("l_returnflag"),
        F.col("key.l_linestatus").alias("l_linestatus"),
        "sum_qty",
        "sum_base_price",
        "sum_disc_price",
        "sum_charge",
        "avg_qty",
        "avg_disc",
        "count_order",
    )


ORACLE_PRICING = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2)                                       AS sum_qty,
       round(sum(l_extendedprice), 2)                                  AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2)               AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       round(avg(l_quantity), 6)                                       AS avg_qty,
       round(avg(l_discount), 6)                                       AS avg_disc,
       count(*)                                                        AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """map + filter: row-level expression, IEEE-exact (no rounding)."""
    li = _t(spark, sf_dir, "lineitem")
    return dfilter(
        li,
        (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24),
    ).select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
    )


ORACLE_FILTER_PROJECT = """
SELECT l_orderkey, l_linenumber,
       l_extendedprice * (1 - l_discount) AS revenue
FROM lineitem
WHERE l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24
"""


def q_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """keep: map then drop nulls only (core.clj:676-691)."""
    li = _t(spark, sf_dir, "lineitem")
    expr = F.when(F.col("l_quantity") < 10, F.col("l_extendedprice"))
    return dkeep(li, expr, alias="small_price")


ORACLE_KEEP = """
SELECT l_extendedprice AS small_price
FROM lineitem WHERE l_quantity < 10
"""


def q_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """frequencies (Count.perElement) on orders.o_orderpriority."""
    return frequencies(_t(spark, sf_dir, "orders"), "o_orderpriority", alias="value")


ORACLE_FREQUENCIES = """
SELECT o_orderpriority AS value, count(*) AS count
FROM orders GROUP BY o_orderpriority
"""


def q_group_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """group-by-key: KV → K, vec<V> (sorted for determinism).

    The grouped array is projected to a ','-joined string because the
    driver gate canonicalizes rows via pandas sort_values, which cannot
    hash list-valued cells. group-by-key semantics (one row per key,
    all values assembled) stay under test; only the output encoding is
    scalar.
    """
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("key"), F.col("l_linenumber").alias("value")
    )
    return group_by_key(li).select(
        "key",
        F.array_join(
            F.transform(F.sort_array("values"), lambda v: v.cast("string")),
            ",",
        ).alias("values"),
    )


ORACLE_GROUP_BY_KEY = """
SELECT l_orderkey AS key,
       array_to_string(list(l_linenumber::VARCHAR ORDER BY l_linenumber), ',') AS values
FROM lineitem GROUP BY l_orderkey
"""


def q_frequencies_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """frequencies-fn per key (core.clj:2052-2063): per order status,
    the priority→count map. Two-level agg (groupBy(key,value) partial
    combine first) — skew-tolerant. The map column is projected to a
    sorted 'v=n' string because the gate canonicalizer can't hash
    dict/array cells; the map semantics stay under test."""
    orders = _t(spark, sf_dir, "orders")
    out = frequencies_by(orders, "o_orderstatus", "o_orderpriority")
    entries = F.array_sort(F.map_entries("freqs"))
    return out.select(
        "key",
        F.array_join(
            F.transform(
                entries,
                lambda e: F.concat_ws("=", e["key"], e["value"].cast("string")),
            ),
            ",",
        ).alias("freqs"),
    )


ORACLE_FREQUENCIES_BY = """
WITH c AS (
  SELECT o_orderstatus AS key, o_orderpriority AS v, count(*) AS n
  FROM orders GROUP BY 1, 2
)
SELECT key, string_agg(v || '=' || n, ',' ORDER BY v) AS freqs
FROM c GROUP BY key
"""


def q_combine_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """combine :global + juxt: several combiners in one pass."""
    li = _t(spark, sf_dir, "lineitem")
    return combine(
        li,
        *juxt(
            count_fn().alias("n"),
            F.round(sum_fn("l_quantity"), 2).alias("sum_qty"),
            F.round(mean_fn("l_quantity"), 6).alias("avg_qty"),
            min_fn("l_quantity").alias("min_qty"),
            max_fn("l_quantity").alias("max_qty"),
        ),
    )


ORACLE_COMBINE_GLOBAL = """
SELECT count(*) AS n,
       round(sum(l_quantity), 2) AS sum_qty,
       round(avg(l_quantity), 6) AS avg_qty,
       min(l_quantity) AS min_qty,
       max(l_quantity) AS max_qty
FROM lineitem
"""


def q_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beyond-reference ordering op (SURVEY §2.9): per-customer spend
    → global top-10. TakeOrderedAndProject: per-partition heaps after
    a partial-agg groupBy — no full sort at any scale. Ties break on
    custkey for cross-engine determinism."""
    orders = _t(spark, sf_dir, "orders")
    spend = combine_by(
        orders,
        "o_custkey",
        F.round(sum_fn("o_totalprice"), 2).alias("total_spend"),
        count_fn().alias("n_orders"),
        key_name="o_custkey",
    )
    return top_k(
        spend, 10, [F.col("total_spend").desc(), F.col("o_custkey").asc()]
    )


ORACLE_TOP_CUSTOMERS = """
SELECT o_custkey,
       round(sum(o_totalprice), 2) AS total_spend,
       count(*) AS n_orders
FROM orders
GROUP BY o_custkey
ORDER BY total_spend DESC, o_custkey ASC
LIMIT 10
"""


def q_price_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group percentiles (p50/p95 of extended price per
    return flag): linear-interpolation percentile, bit-matching DuckDB
    ``quantile_cont``. The holistic exact form; the 100 TB default is
    the mergeable GK sketch (``approx_quantile_fn``)."""
    li = _t(spark, sf_dir, "lineitem")
    return combine_by(
        li,
        "l_returnflag",
        F.round(
            percentile_fn("l_extendedprice", [0.5]).getItem(0), 4
        ).alias("p50_price"),
        F.round(
            percentile_fn("l_extendedprice", [0.95]).getItem(0), 4
        ).alias("p95_price"),
        key_name="l_returnflag",
    )


ORACLE_PRICE_PERCENTILES = """
SELECT l_returnflag,
       round(quantile_cont(l_extendedprice, 0.5), 4)  AS p50_price,
       round(quantile_cont(l_extendedprice, 0.95), 4) AS p95_price
FROM lineitem
GROUP BY l_returnflag
"""


def q_top_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key top-k (rank-over-window): top-3 customers per nation by
    account balance. The shuffle is one hash partition on the key; the
    rank filter is applied within partitions (WindowGroupLimit pushes
    the limit below the sort at scale). Ties break on custkey."""
    cust = _t(spark, sf_dir, "customer").select(
        "c_nationkey", "c_custkey", "c_acctbal"
    )
    return top_k(
        cust,
        3,
        [F.col("c_acctbal").desc(), F.col("c_custkey").asc()],
        key="c_nationkey",
    )


ORACLE_TOP_PER_NATION = """
SELECT c_nationkey, c_custkey, c_acctbal
FROM customer
QUALIFY row_number() OVER (
  PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey ASC
) <= 3
"""


def q_combiner_mapper_predicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Combiner :mapper/:predicate semantics (core.clj:1982-2050):
    mapper applies only to elements passing the predicate."""
    li = _t(spark, sf_dir, "lineitem")
    heavy = F.col("l_quantity") > 25
    return combine_by(
        li,
        "l_returnflag",
        count_fn(predicate=heavy).alias("n_heavy"),
        F.round(sum_fn(F.col("l_extendedprice"), predicate=heavy), 2).alias(
            "sum_heavy_price"
        ),
        F.round(mean_fn(F.col("l_quantity"), predicate=heavy), 6).alias(
            "avg_heavy_qty"
        ),
        min_fn(F.col("l_quantity"), predicate=heavy).alias("min_heavy_qty"),
        max_fn(F.col("l_quantity"), predicate=heavy).alias("max_heavy_qty"),
    ).withColumnRenamed("key", "l_returnflag")


ORACLE_COMBINER_MAPPER_PREDICATE = """
SELECT l_returnflag,
       count(CASE WHEN l_quantity > 25 THEN 1 END) AS n_heavy,
       round(coalesce(sum(CASE WHEN l_quantity > 25 THEN l_extendedprice END), 0), 2) AS sum_heavy_price,
       round(coalesce(avg(CASE WHEN l_quantity > 25 THEN l_quantity END), 0), 6) AS avg_heavy_qty,
       min(CASE WHEN l_quantity > 25 THEN l_quantity END) AS min_heavy_qty,
       max(CASE WHEN l_quantity > 25 THEN l_quantity END) AS max_heavy_qty
FROM lineitem GROUP BY l_returnflag
"""


def q_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return distinct(_t(spark, sf_dir, "customer").select("c_mktsegment"))


ORACLE_DISTINCT = "SELECT DISTINCT c_mktsegment FROM customer"


def q_distinct_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """distinct-by with the witness pinned to min(p_partkey) so the
    oracle is deterministic (the reference keeps an arbitrary witness —
    core.clj:1948-1980; we pin for comparability)."""
    part = _t(spark, sf_dir, "part")
    return combine_by(
        part, "p_brand", min_fn("p_partkey").alias("witness_partkey")
    ).withColumnRenamed("key", "p_brand")


ORACLE_DISTINCT_BY = """
SELECT p_brand, min(p_partkey) AS witness_partkey
FROM part GROUP BY p_brand
"""


def q_join_required(spark: SparkSession, sf_dir: str) -> DataFrame:
    """join-by, both sides :required → inner (core.clj:1696-1739)."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    joined = join_by(
        [
            JoinSpec(orders, "o_custkey", required=True, name="o"),
            JoinSpec(cust, "c_custkey", required=True, name="c"),
        ]
    )
    return combine_by(
        joined,
        F.col("_c.c_mktsegment"),
        F.round(sum_fn(F.col("_o.o_totalprice")), 2).alias("revenue"),
        count_fn().alias("n_orders"),
    ).withColumnRenamed("key", "c_mktsegment")


ORACLE_JOIN_REQUIRED = """
SELECT c_mktsegment,
       round(sum(o_totalprice), 2) AS revenue,
       count(*) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


def q_join_optional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """join-by, left :required / right optional → left outer."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    joined = join_by(
        [
            JoinSpec(cust, "c_custkey", required=True, name="c"),
            JoinSpec(orders, "o_custkey", name="o"),
        ]
    )
    return combine_by(
        joined,
        F.col("_c.c_nationkey"),
        count_fn(predicate=F.col("_o").isNotNull()).alias("n_orders"),
        F.countDistinct(F.col("_c.c_custkey")).alias("n_customers"),
    ).withColumnRenamed("key", "c_nationkey")


ORACLE_JOIN_OPTIONAL = """
SELECT c_nationkey,
       count(CASE WHEN o_orderkey IS NOT NULL THEN 1 END) AS n_orders,
       count(DISTINCT c_custkey) AS n_customers
FROM customer LEFT JOIN orders ON o_custkey = c_custkey
GROUP BY c_nationkey
"""


def q_join_multiway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-way join-by with broadcast dims: revenue per region name."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = F.broadcast(_t(spark, sf_dir, "nation"))
    region = F.broadcast(_t(spark, sf_dir, "region"))
    j = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(nation, cust.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
    )
    return combine_by(
        j,
        "r_name",
        F.round(sum_fn("o_totalprice"), 2).alias("revenue"),
        count_fn().alias("n_orders"),
    ).withColumnRenamed("key", "r_name")


ORACLE_JOIN_MULTIWAY = """
SELECT r_name,
       round(sum(o_totalprice), 2) AS revenue,
       count(*) AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name
"""


def q_cogroup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cogroup-by orders⊎lineitem on orderkey → per-key side sizes."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    cg = cogroup_by(
        [
            JoinSpec(orders, "o_orderkey", name="o"),
            JoinSpec(li, "l_orderkey", name="l"),
        ]
    )
    return cg.select(
        F.col("key").alias("orderkey"),
        F.size("_o").alias("n_orders"),
        F.size("_l").alias("n_lines"),
    )


ORACLE_COGROUP_COUNTS = """
WITH o AS (SELECT o_orderkey AS k, count(*) AS n FROM orders GROUP BY 1),
     l AS (SELECT l_orderkey AS k, count(*) AS n FROM lineitem GROUP BY 1)
SELECT coalesce(o.k, l.k) AS orderkey,
       coalesce(o.n, 0) AS n_orders,
       coalesce(l.n, 0) AS n_lines
FROM o FULL OUTER JOIN l ON o.k = l.k
"""


def q_setops_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return intersect_distinct(c, s)


ORACLE_SETOPS_INTERSECT = """
SELECT c_nationkey AS nationkey FROM customer
INTERSECT
SELECT s_nationkey FROM supplier
"""


def q_setops_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return except_distinct(c, s)


ORACLE_SETOPS_EXCEPT = """
SELECT c_nationkey AS nationkey FROM customer
EXCEPT
SELECT s_nationkey FROM supplier
"""


def q_setops_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return union_distinct(c, s)


ORACLE_SETOPS_UNION = """
SELECT c_nationkey AS nationkey FROM customer
UNION
SELECT s_nationkey FROM supplier
"""


def q_concat_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """concat (Flatten.pCollections) → union-all row count."""
    from .operators import concat

    c = _t(spark, sf_dir, "customer").select(F.col("c_custkey").alias("id"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_suppkey").alias("id"))
    return combine(concat(c, s), count_fn().alias("n"))


ORACLE_CONCAT_COUNT = """
SELECT count(*) AS n FROM (
  SELECT c_custkey AS id FROM customer
  UNION ALL
  SELECT s_suppkey FROM supplier
)
"""


def q_mapcat_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapcat (1→N): explode document tokens → token frequencies > 5."""
    docs = _t(spark, sf_dir, "documents")
    toks = dmapcat(docs, tx.tokens("text"))
    return frequencies(toks, "value", alias="token").filter(F.col("count") > 5)


ORACLE_MAPCAT_TOKENS = """
SELECT token, count(*) AS count
FROM (SELECT unnest(string_split(lower(text), ' ')) AS token FROM documents)
GROUP BY token HAVING count(*) > 5
"""


def q_partition_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """partition-by: route orders into 3 outputs by status, return #0."""
    orders = _t(spark, sf_dir, "orders")
    idx = (
        F.when(F.col("o_orderstatus") == "O", 0)
        .when(F.col("o_orderstatus") == "F", 1)
        .otherwise(2)
    )
    parts = partition_by(orders, idx, 3, cache=False)  # one branch consumed
    return parts[0].select("o_orderkey", "o_orderstatus")


ORACLE_PARTITION_BY = """
SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderstatus = 'O'
"""


def q_sample_global_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fixed-size sample: md5(seed || id) ordering —
    uniform-ish, reproducible across engines/runs/partitionings (the
    training-data default), hence fully oracle-checkable. Physical
    shape is still TakeOrderedAndProject (per-partition heap)."""
    return sample(
        _t(spark, sf_dir, "orders"), 100, scope="global",
        deterministic_by="o_orderkey", seed=42,
    ).select("o_orderkey")


ORACLE_SAMPLE_GLOBAL_DET = """
SELECT o_orderkey FROM orders
ORDER BY md5('42' || o_orderkey::VARCHAR)
LIMIT 100
"""


def q_sample_per_key_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-key fixed-size sample (window over hash
    order): 3 lineitems per return flag, reproducible + oracle-able."""
    li = _ts(spark, sf_dir, "lineitem")
    return sample(
        li, 3, scope="per-key", key="l_returnflag",
        deterministic_by=F.concat_ws("_", "l_orderkey", "l_linenumber"), seed=42,
    ).select("l_returnflag", "l_orderkey", "l_linenumber")


ORACLE_SAMPLE_PER_KEY_DET = """
SELECT l_returnflag, l_orderkey, l_linenumber FROM (
  SELECT l_returnflag, l_orderkey, l_linenumber,
         row_number() OVER (
           PARTITION BY l_returnflag
           ORDER BY md5('42' || concat_ws('_', l_orderkey, l_linenumber))
         ) AS rn
  FROM lineitem
) WHERE rn <= 3
"""


# =====================================================================
# Windowing (SURVEY §2.6) — batch-mode event-time windows on `events`
# =====================================================================

def q_window_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = fixed_windows("ts", "1 hour")
    return (
        ev.groupBy(w.alias("w"), F.col("event_type"))
        .agg(
            count_fn().alias("n"),
            F.round(sum_fn("value"), 2).alias("sum_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


ORACLE_WINDOW_FIXED = """
SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS window_start,
       event_type, count(*) AS n, round(sum(value), 2) AS sum_value
FROM events GROUP BY 1, 2
"""


def q_window_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = sliding_windows("ts", "1 hour", "30 minutes")
    return (
        ev.groupBy(w.alias("w"))
        .agg(count_fn().alias("n"), F.round(sum_fn("value"), 2).alias("sum_value"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "n",
            "sum_value",
        )
    )


ORACLE_WINDOW_SLIDING = """
SELECT CAST(floor(epoch(time_bucket(INTERVAL '30 minutes', ts))) AS BIGINT)
         - o.k * 1800 AS window_start,
       count(*) AS n, round(sum(value), 2) AS sum_value
FROM events CROSS JOIN (VALUES (0), (1)) o(k)
GROUP BY 1
"""


def q_window_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """session-windows (gap 30 min) per user: gap-merged sessions.
    Oracle = classic gaps-and-islands (lag + cumulative sum)."""
    ev = _t(spark, sf_dir, "events")
    w = session_windows("ts", "30 minutes")
    return (
        ev.groupBy(F.col("user_id"), w.alias("w"))
        .agg(count_fn().alias("n"), F.round(sum_fn("value"), 2).alias("sum_value"))
        .select(
            "user_id",
            F.unix_timestamp(F.col("w.start")).alias("session_start"),
            "n",
            "sum_value",
        )
    )


ORACLE_WINDOW_SESSION = """
WITH marked AS (
  SELECT user_id, ts, value,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   >= INTERVAL '30 minutes'
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
), sessions AS (
  SELECT user_id, ts, value,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts) AS session_id
  FROM marked
)
SELECT user_id,
       CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start,
       count(*) AS n,
       round(sum(value), 2) AS sum_value
FROM sessions GROUP BY user_id, session_id
"""


# =====================================================================
# LLM-pipeline extensions: dedup / text analysis / similarity
# =====================================================================

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.dedup_exact(_t(spark, sf_dir, "documents"))


ORACLE_DEDUP_EXACT = """
SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
"""


def _minhash_cte_block(num_hashes: int, bands: int, k: int, seed: int) -> str:
    """The shared DuckDB CTE chain replicating the MinHash/LSH
    pipeline bit-exactly (see functions/dedup.py docstring), ending in
    ``pairs (doc_a, doc_b)``. Composable: prefix with ``WITH`` (or
    ``WITH RECURSIVE``) and append further CTEs / a final SELECT."""
    rows_per_band = num_hashes // bands
    params = dd.minhash_params(num_hashes, seed)
    p = dd.MERSENNE_P
    sig_terms = ",\n    ".join(
        f"list_min(list_transform(hashes, h -> ({a} * h + {b}) % {p}))"
        for a, b in params
    )
    band_rows = ", ".join(f"({i})" for i in range(bands))
    return f"""toks AS (
  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
), sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(t) - {k} + 1, 1) + 1),
           i -> array_to_string(t[i:i+{k - 1}], ' '))) AS shingles
  FROM toks
), hashed AS (
  SELECT doc_id,
         list_transform(shingles,
           s -> CAST('0x' || substr(md5(s), 1, 8) AS BIGINT) % 2147483648) AS hashes
  FROM sh
), sig AS (
  SELECT doc_id, [
    {sig_terms}
  ] AS s
  FROM hashed
), banded AS (
  SELECT doc_id,
         b.k AS band,
         b.k::VARCHAR || ':' ||
           array_to_string(s[b.k * {rows_per_band} + 1 : b.k * {rows_per_band} + {rows_per_band}], ',')
           AS bucket
  FROM sig CROSS JOIN (VALUES {band_rows}) b(k)
), pairs AS (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
  FROM banded l JOIN banded r ON l.bucket = r.bucket AND l.doc_id < r.doc_id
)"""


def _minhash_oracle_sql(num_hashes: int, bands: int, k: int, seed: int) -> str:
    return (
        "WITH "
        + _minhash_cte_block(num_hashes, bands, k, seed)
        + "\nSELECT doc_a, doc_b FROM pairs"
    )


def q_dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-duplicate candidate pairs.

    ``cache=True``: the narrow (doc_id, bucket) banded table is
    persisted so the signature pipeline runs a single time and both
    sides of the bucket self-join read it back — measured faster than
    the write-once parquet materialization for a single-job pass
    (the parquet path, ``materialize_dir=``, wins when the banded
    table is probed across JOBS — see ``dd.materialize_banded``)."""
    return dd.lsh_candidate_pairs(
        _ts(spark, sf_dir, "documents", "doc_id"),
        num_hashes=16, bands=4, k=3, seed=42,
        cache=True,
    )


ORACLE_DEDUP_MINHASH = _minhash_oracle_sql(16, 4, 3, 42)


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERING: LSH candidate pairs → connected
    components (hash-min label propagation, no driver-side graph) →
    per-document cluster assignment, singletons keeping their own id.
    The iterative joins run over the pair list only (tiny vs corpus);
    the final assignment is an AQE-broadcast left join."""
    return dd.dedup_clusters(
        _ts(spark, sf_dir, "documents", "doc_id"), num_hashes=16, bands=4, k=3, seed=42,
        cache=True,  # one signature computation; pairs feed the CC loop
    )


# Transitive closure via recursive CTE: every node collects the labels
# of everything that can reach it; min per node = component min.
ORACLE_DEDUP_CLUSTERS = (
    "WITH RECURSIVE "
    + _minhash_cte_block(16, 4, 3, 42)
    + """, edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
), walk(node, lab) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.b, w.lab FROM walk w JOIN edges e ON e.a = w.node
), comp AS (
  SELECT node, min(lab) AS component FROM walk GROUP BY node
)
SELECT d.doc_id, coalesce(c.component, d.doc_id) AS cluster_id
FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
"""
)


def q_unigram_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-unigram pseudo-perplexity per source (CCNet-style
    quality signal): mean negative token log-prob under the corpus
    unigram LM. All accumulation is fixed-point BIGINT (nano-logprob),
    so sums are order-independent and cross-engine exact; the only
    float op is the final edge division, rounded to 6 dp."""
    docs = _t(spark, sf_dir, "documents")
    scores = tx.unigram_doc_scores(docs)
    per_source = (
        docs.select("doc_id", "source")
        .join(scores, on="doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").alias("_nt"),
            F.sum("sum_logp_nano").alias("_slp"),
        )
    )
    return per_source.select(
        "source",
        "n_docs",
        F.round(
            -F.col("_slp").cast("double") / F.col("_nt").cast("double") / 1e9, 6
        ).alias("mean_neg_logp"),
    )


ORACLE_UNIGRAM_QUALITY = """
WITH toks AS (
  SELECT doc_id, t.term
  FROM documents, unnest(string_split(lower(text), ' ')) AS t(term)
  WHERE t.term <> ''
), freqs AS (
  SELECT term, count(*) AS n FROM toks GROUP BY term
), tot AS (
  SELECT sum(n) AS total FROM freqs
), lm AS (
  SELECT term,
         CAST(round(ln(n * 1.0 / total) * 1e9) AS BIGINT) AS logp_nano
  FROM freqs CROSS JOIN tot
), per_doc AS (
  SELECT toks.doc_id, count(*) AS n_toks, sum(lm.logp_nano) AS slp
  FROM toks JOIN lm USING (term)
  GROUP BY toks.doc_id
)
SELECT d.source,
       count(*) AS n_docs,
       round(-sum(p.slp) * 1.0 / sum(p.n_toks) / 1e9, 6) AS mean_neg_logp
FROM documents d JOIN per_doc p ON p.doc_id = d.doc_id
GROUP BY d.source
"""


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget document chunking (64-token chunks, 8 overlap):
    one explode, no shuffle. Chunk text is md5-projected so the gate
    hashes small rows; the full text equality is still pinned (md5 of
    the joined slice on both engines)."""
    docs = _t(spark, sf_dir, "documents")
    out = tx.chunk_documents(docs, chunk_tokens=64, overlap=8)
    return out.select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.col("n_chunk_tokens").cast("long").alias("n_chunk_tokens"),
        F.md5("chunk_text").alias("chunk_md5"),
    )


ORACLE_CHUNK_DOCUMENTS = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), sized AS (
  SELECT doc_id, t,
         greatest(1, CAST(ceil((len(t) - 8) * 1.0 / 56) AS BIGINT)) AS nc
  FROM toks
)
SELECT doc_id,
       i AS chunk_id,
       len(t[i * 56 + 1 : i * 56 + 64]) AS n_chunk_tokens,
       md5(array_to_string(t[i * 56 + 1 : i * 56 + 64], ' ')) AS chunk_md5
FROM sized CROSS JOIN unnest(range(nc)) AS u(i)
"""


def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split by md5(seed‖id):
    reproducible across engines/partitionings (unlike randomSplit) and
    stable under corpus growth. Gate checks the full per-doc
    assignment, not just counts."""
    from .operators import hash_split

    docs = _t(spark, sf_dir, "documents")
    out = hash_split(
        docs, {"train": 0.8, "val": 0.1, "test": 0.1}, "doc_id", seed=13
    )
    return out.select("doc_id", "split")


ORACLE_HASH_SPLIT = """
WITH u AS (
  SELECT doc_id,
         CAST('0x' || substr(md5('13' || doc_id::VARCHAR), 1, 8) AS BIGINT)
           / 4294967296.0 AS r
  FROM documents
)
SELECT doc_id,
       CASE WHEN r < 0.8 THEN 'train'
            WHEN r < 0.9 THEN 'val'
            ELSE 'test' END AS split
FROM u
"""


def q_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-order shuffle: total-order the
    corpus by md5(seed‖doc_id) via a range-partitioned distributed
    sort (never a single-partition window). Gate checks the full
    (doc_id, shuffle_key) assignment — the order is the key order."""
    from .operators import global_shuffle

    docs = _t(spark, sf_dir, "documents")
    out = global_shuffle(docs, 7, "doc_id", keep_key=True)
    return out.select("doc_id", "shuffle_key")


ORACLE_GLOBAL_SHUFFLE = """
SELECT doc_id, md5('7' || chr(31) || doc_id::VARCHAR) AS shuffle_key
FROM documents
"""


def q_importance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weight-proportional Bernoulli selection (the
    DSIR resampling step's scalable form): admit documents with
    p = n·w/Σw, weight = n_chars (length-proportional — the
    token-budget-proportional curation draw). Engine-exact: nano
    fixed-point Σw + single IEEE multiplies, no libm (see
    operators/grouping.py importance_resample)."""
    from .operators import importance_resample

    docs = _t(spark, sf_dir, "documents")
    out = importance_resample(docs, 200, "n_chars", "doc_id", seed=42)
    return out.select("doc_id", "n_chars")


ORACLE_IMPORTANCE_RESAMPLE = """
WITH w AS (
  SELECT doc_id, n_chars,
         CASE WHEN n_chars IS NOT NULL AND n_chars > 0
              THEN CAST(round(n_chars * 1e9) AS BIGINT)
              ELSE 0 END AS w_nano,
         CAST('0x' || substr(md5('42' || doc_id::VARCHAR), 1, 8) AS BIGINT)
           / 4294967296.0 AS u
  FROM documents
), tot AS (SELECT sum(w_nano) AS wtot FROM w)
SELECT doc_id, n_chars
FROM w CROSS JOIN tot
WHERE u * CAST(wtot AS DOUBLE) < CAST(200 * w_nano AS DOUBLE)
"""


def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) fingerprints: per-window minimum of token
    4-gram rolling hashes, w=4 — every shared 7-token run between
    docs shares a fingerprint (the locality guarantee MinHash
    lacks). Full exploded (doc_id, fp) table gated."""
    docs = _ts(spark, sf_dir, "documents", "doc_id")
    return dd.winnow_fingerprints(docs, k=4, w=4)


ORACLE_WINNOW_FINGERPRINTS = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split(lower(text), ' '), x -> x <> '') AS l
  FROM documents
), kg AS (
  SELECT doc_id,
         list_transform(range(1, greatest(len(l) - 3, 1) + 1),
                        i -> array_to_string(l[i:i+3], ' ')) AS gs
  FROM toks
), hs AS (
  SELECT doc_id,
         list_transform(gs,
           s -> CAST('0x' || substr(md5(s), 1, 8) AS BIGINT)
                % 2147483648) AS hh
  FROM kg
)
SELECT doc_id,
       unnest(list_distinct(
         list_transform(range(1, greatest(len(hh) - 3, 1) + 1),
                        i -> list_min(hh[i:i+3])))) AS fp
FROM hs
"""


def q_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge-step statistics: adjacent character-pair counts
    within tokens, via the word-frequency trick (pair explode runs
    over the VOCAB table weighted by token count, not the corpus)."""
    docs = _t(spark, sf_dir, "documents")
    return tx.bpe_pair_counts(docs, min_count=5)


ORACLE_BPE_PAIRS = """
WITH tok AS (
  SELECT unnest(list_filter(string_split(lower(text), ' '),
                            x -> x <> '')) AS tok
  FROM documents
), v AS (
  SELECT tok, count(*) AS c FROM tok GROUP BY tok
), p AS (
  SELECT unnest(list_transform(range(1, length(tok)),
                               i -> substr(tok, i, 2))) AS pair,
         c
  FROM v WHERE length(tok) >= 2
)
SELECT pair, CAST(sum(c) AS BIGINT) AS n
FROM p GROUP BY pair HAVING sum(c) >= 5
"""


def q_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-distribution drift vs the corpus over 256
    hashed unigram buckets: χ² and L1 divergence in pico fixed-point
    (order-independent integer sums — no libm)."""
    docs = _t(spark, sf_dir, "documents")
    return tx.source_drift(docs, n_buckets=256)


ORACLE_SOURCE_DRIFT = """
WITH tk AS (
  SELECT source AS src,
         unnest(list_filter(string_split(lower(text), ' '),
                            x -> x <> '')) AS tok
  FROM documents
), sb AS (
  SELECT src,
         CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT) % 256 AS bucket,
         count(*) AS c_sb
  FROM tk GROUP BY 1, 2
), st AS (SELECT src, CAST(sum(c_sb) AS BIGINT) AS n_s FROM sb GROUP BY src),
bt AS (SELECT bucket, CAST(sum(c_sb) AS BIGINT) AS c_b FROM sb GROUP BY bucket),
ct AS (SELECT CAST(sum(c_b) AS BIGINT) AS n FROM bt),
grid AS (
  SELECT st.src, bt.bucket, st.n_s, bt.c_b, ct.n,
         COALESCE(sb.c_sb, 0) AS c_sb
  FROM st CROSS JOIN bt CROSS JOIN ct
  LEFT JOIN sb ON sb.src = st.src AND sb.bucket = bt.bucket
), terms AS (
  SELECT src,
    CAST(round(
      (CAST(c_sb AS DOUBLE) / CAST(n_s AS DOUBLE)
        - CAST(c_b AS DOUBLE) / CAST(n AS DOUBLE))
      * (CAST(c_sb AS DOUBLE) / CAST(n_s AS DOUBLE)
        - CAST(c_b AS DOUBLE) / CAST(n AS DOUBLE))
      / (CAST(c_b AS DOUBLE) / CAST(n AS DOUBLE)) * 1e12
    ) AS BIGINT) AS chi,
    CAST(round(abs(
      CAST(c_sb AS DOUBLE) / CAST(n_s AS DOUBLE)
      - CAST(c_b AS DOUBLE) / CAST(n AS DOUBLE)) * 1e12
    ) AS BIGINT) AS l1
  FROM grid
)
SELECT src AS source,
       CAST(sum(chi) AS BIGINT) AS chi2_pico,
       CAST(sum(l1) AS BIGINT) AS l1_pico
FROM terms GROUP BY src
"""


#: fixed merge list for the gated BPE query — learned once from the
#: sf0.01 corpus with the reference Python BPE (count desc, pair asc
#: tie-break) and pinned as literals so query and oracle share it;
#: ('m','er') exercises a chained multi-char merge
_BPE_MERGES: list[tuple[str, str]] = [
    ("e", "r"),
    ("i", "n"),
    ("o", "w"),
    ("o", "r"),
    ("s", "t"),
    ("m", "er"),
    ("a", "t"),
    ("l", "u"),
]


def q_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE application: segment every document with the pinned
    8-merge list via the leftmost-greedy merge fold (text.bpe_apply
    — pure Column, one codegen'd scan). Gate compares the full
    (doc_id, subword) multiset. Spread-loaded (r14): the merge fold
    is per-row heavy and single-consumer, so the core-width spread
    wins here (interleaved A/B min 1.30 -> 1.02 s) where the
    multi-consumer bm25/collocations family measured the opposite
    (their one-task tokenize is shared via exchange reuse; the
    spread makes it recompute per consumer)."""
    docs = _ts(spark, sf_dir, "documents", "doc_id")
    out = tx.bpe_apply(docs, _BPE_MERGES)
    return out.select("doc_id", F.explode("subwords").alias("subword"))


def _bpe_fold_sql(expr: str, a: str, b: str) -> str:
    """DuckDB mirror of text._bpe_merge_fold: string-accumulator
    reduce with '' prepended as the initial value (the
    fingerprint_rolling list_prepend trick)."""
    ab = a + b
    return (
        f"string_split(list_reduce(list_prepend('', {expr}), (acc, x) -> "
        f"CASE WHEN (acc = '{a}' OR ends_with(acc, ' {a}')) AND x = '{b}' "
        f"THEN left(acc, length(acc) - {len(a)}) || '{ab}' "
        f"WHEN acc = '' THEN x "
        f"ELSE acc || ' ' || x END), ' ')"
    )


def _bpe_oracle() -> str:
    expr = "string_split(trim(regexp_replace(tok, '(.)', '\\1 ', 'g')), ' ')"
    for a, b in _BPE_MERGES:
        expr = _bpe_fold_sql(expr, a, b)
    return f"""
WITH tok AS (
  SELECT doc_id,
         unnest(list_filter(string_split(lower(text), ' '),
                            x -> x <> '')) AS tok
  FROM documents
)
SELECT doc_id, unnest({expr}) AS subword
FROM tok
"""


ORACLE_BPE_TOKENIZE = _bpe_oracle()


def q_subword_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-fit diagnostics (subword fertility) for the pinned
    8-merge BPE list: per-doc token count, subword count,
    single-piece tokens, and fertility in micro fixed-point
    (engine-exact integer division, no float)."""
    docs = _t(spark, sf_dir, "documents")
    return tx.subword_stats(docs, _BPE_MERGES)


def _subword_fertility_oracle() -> str:
    expr = "string_split(trim(regexp_replace(tok, '(.)', '\\1 ', 'g')), ' ')"
    for a, b in _BPE_MERGES:
        expr = _bpe_fold_sql(expr, a, b)
    return f"""
WITH tok AS (
  SELECT doc_id,
         unnest(list_filter(string_split(lower(text), ' '),
                            x -> x <> '')) AS tok
  FROM documents
), seg AS (
  SELECT doc_id, len({expr}) AS ns FROM tok
), a AS (
  SELECT doc_id, count(*) AS n_tok, sum(ns) AS n_sub,
         sum(CASE WHEN ns = 1 THEN 1 ELSE 0 END) AS n_single
  FROM seg GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(a.n_tok, 0)::BIGINT AS n_tok,
       coalesce(a.n_sub, 0)::BIGINT AS n_sub,
       coalesce(a.n_single, 0)::BIGINT AS n_single,
       coalesce((a.n_sub * 1000000) // a.n_tok, 0)::BIGINT
         AS fertility_micro
FROM (SELECT DISTINCT doc_id FROM documents) d
LEFT JOIN a ON a.doc_id = d.doc_id
"""


ORACLE_SUBWORD_FERTILITY = _subword_fertility_oracle()


def q_textrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank (Mihalcea & Tarau 2004): PageRank over the adjacent-
    token co-occurrence graph (bigram count >= 5 edges,
    symmetrized) — corpus keyword salience. 5 iterations of the
    ENGINE-EXACT integer fixed-point PageRank (graph.pagerank: all
    gathers are BIGINT sums, order-independent; the oracle is the
    same recurrence unrolled as chained CTEs)."""
    from .functions.graph import pagerank

    docs = _t(spark, sf_dir, "documents")
    edges = tx.bigram_counts(docs, min_count=5).select(
        F.col("ta").alias("a"), F.col("tb").alias("b")
    )
    pr = pagerank(edges, iterations=5)
    return pr.select(F.col("node").alias("term"), "score_nano")


def _textrank_oracle(iterations: int = 5) -> str:
    head = """
WITH tl AS (
  SELECT list_filter(string_split(lower(text), ' '), x -> x <> '') AS l
  FROM documents
), bg AS (
  SELECT u.big[1] AS ta, u.big[2] AS tb, count(*) AS n_ab
  FROM tl, unnest(list_transform(range(1, len(l)),
        i -> [l[i], l[i + 1]])) AS u(big)
  GROUP BY 1, 2
  HAVING count(*) >= 5
), e AS (
  SELECT ta AS src, tb AS dst FROM bg
  UNION
  SELECT tb AS src, ta AS dst FROM bg
), nodes AS (
  SELECT src AS node FROM e UNION SELECT dst FROM e
), deg AS (
  SELECT src, count(*) AS deg FROM e GROUP BY src
), s0 AS (
  SELECT node, CAST(1000000000 AS BIGINT) AS score FROM nodes
)"""
    blocks = []
    for i in range(1, iterations + 1):
        blocks.append(f""", s{i} AS (
  SELECT n.node,
         CAST(150000000 + COALESCE(c.inn, 0) AS BIGINT) AS score
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node,
           CAST(sum(CAST(floor(floor(s.score / d.deg) * 85 / 100)
                         AS BIGINT)) AS BIGINT) AS inn
    FROM e
    JOIN deg d ON e.src = d.src
    JOIN s{i - 1} s ON s.node = e.src
    GROUP BY e.dst
  ) c ON c.node = n.node
)""")
    return (
        head
        + "".join(blocks)
        + f"\nSELECT node AS term, score AS score_nano FROM s{iterations}\n"
    )


ORACLE_TEXTRANK = _textrank_oracle()


def q_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral path mining: counts of event-type trigram paths
    users walk (deterministic (ts, event_id) timeline order), one
    timeline shuffle + one count shuffle."""
    from .functions.events import event_path_ngrams

    ev = _t(spark, sf_dir, "events")
    return event_path_ngrams(ev, n=3, min_count=2)


ORACLE_EVENT_PATHS = """
WITH seq AS (
  SELECT user_id,
         list(event_type ORDER BY ts, event_id) AS tl
  FROM events GROUP BY user_id
), g AS (
  SELECT unnest(
    CASE WHEN len(tl) >= 3
         THEN list_transform(range(1, len(tl) - 1),
                             i -> array_to_string(tl[i:i+2], '>'))
         ELSE CAST([] AS VARCHAR[]) END) AS path
  FROM seq
)
SELECT path, count(*) AS walks
FROM g GROUP BY path HAVING count(*) >= 2
"""


def q_domain_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi-style mix optimization (first-order multiplicative
    weights): per-source corpus-LM loss (nano per-token neg-logprob,
    integer-sum exact) → 5 reweighting iterations → per-domain
    sampling weights (mean 1e9). Every aggregate is decimal/integer
    (order-independent); the oracle is the same recurrence unrolled."""
    from .operators import domain_reweight

    docs = _t(spark, sf_dir, "documents")
    scored = tx.unigram_doc_scores(docs)
    losses = (
        docs.select("doc_id", "source")
        .join(scored, "doc_id")
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
        )
    )
    return domain_reweight(losses, iterations=5, eta=0.1)


def _domain_reweight_oracle(iterations: int = 5, eta: str = "0.1") -> str:
    head = """
WITH toks AS (
  SELECT doc_id, t.term
  FROM documents, unnest(string_split(lower(text), ' ')) AS t(term)
  WHERE t.term <> ''
), freqs AS (
  SELECT term, count(*) AS n FROM toks GROUP BY term
), tot AS (SELECT sum(n) AS total FROM freqs),
lm AS (
  SELECT term,
         CAST(round(ln(n * 1.0 / total) * 1e9) AS BIGINT) AS logp_nano
  FROM freqs CROSS JOIN tot
), per_doc AS (
  SELECT toks.doc_id, count(*) AS n_toks, sum(lm.logp_nano) AS slp
  FROM toks JOIN lm USING (term)
  GROUP BY toks.doc_id
), losses AS MATERIALIZED (
  SELECT d.source AS domain,
         CAST(round(-(CAST(sum(CAST(p.slp AS HUGEINT)) AS DOUBLE)
                      / CAST(sum(CAST(p.n_toks AS HUGEINT)) AS DOUBLE)))
              AS BIGINT) AS loss
  FROM documents d JOIN per_doc p ON p.doc_id = d.doc_id
  GROUP BY d.source
), s0 AS MATERIALIZED (
  SELECT domain, loss, CAST(1000000000 AS BIGINT) AS w FROM losses
)"""
    blocks = []
    for i in range(1, iterations + 1):
        p = i - 1
        blocks.append(f""", t{i} AS (
  SELECT CAST(sum(CAST(w AS HUGEINT) * CAST(loss AS HUGEINT)) AS DOUBLE) AS wl,
         CAST(sum(CAST(w AS HUGEINT)) AS DOUBLE) AS wsum,
         count(*) AS n
  FROM s{p}
), e{i} AS MATERIALIZED (
  SELECT s.domain, s.loss, s.w, t.n,
         CAST(s.loss AS DOUBLE) - (t.wl / t.wsum) AS exc
  FROM s{p} s CROSS JOIN t{i} t
), x{i} AS (SELECT max(abs(exc)) AS x FROM e{i}),
u{i} AS MATERIALIZED (
  SELECT e.domain, e.loss, e.n,
         CASE WHEN x.x > 0
              THEN CAST(round(CAST(e.w AS DOUBLE)
                              * (1.0 + {eta} * e.exc / x.x)) AS BIGINT)
              ELSE e.w END AS w1
  FROM e{i} e CROSS JOIN x{i} x
), n{i} AS (SELECT CAST(sum(CAST(w1 AS HUGEINT)) AS DOUBLE) AS s FROM u{i}),
s{i} AS MATERIALIZED (
  SELECT u.domain, u.loss,
         CAST(round(CAST(u.w1 AS DOUBLE)
                    * (CAST(u.n AS DOUBLE) * 1e9 / n.s)) AS BIGINT) AS w
  FROM u{i} u CROSS JOIN n{i} n
)""")
    return (
        head
        + "".join(blocks)
        + f"\nSELECT domain, w AS weight_nano FROM s{iterations}\n"
    )


ORACLE_DOMAIN_REWEIGHT = _domain_reweight_oracle()


def q_content_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-shard release manifest: row count + order-independent
    content digest (Σ 60-bit row hashes mod 2^61−1, decimal-exact)
    over the deterministic 8-way hash sharding — the integrity
    artifact shipped beside a training-data release."""
    docs = _t(spark, sf_dir, "documents")
    sharded = docs.withColumn(
        "shard",
        F.pmod(
            F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast("long"),
            F.lit(8),
        ),
    )
    return dd.content_manifest(sharded, "shard")


ORACLE_CONTENT_MANIFEST = """
WITH sharded AS (
  SELECT doc_id, text,
         CAST('0x' || substr(md5(doc_id::VARCHAR), 1, 8) AS BIGINT) % 8
           AS shard
  FROM documents
)
SELECT shard, count(*) AS n_rows,
       CAST(sum(CAST(CAST('0x' || substr(md5(doc_id::VARCHAR || chr(31) || text), 1, 15) AS BIGINT) AS HUGEINT))
            % 2305843009213693951 AS BIGINT) AS digest
FROM sharded GROUP BY shard
"""


def q_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM pseudo-perplexity per document (Laplace-1 smoothed,
    trained on the corpus itself) — nano fixed-point per-bigram
    log-probs, integer per-doc sums (order-independent)."""
    docs = _t(spark, sf_dir, "documents")
    return tx.bigram_doc_scores(docs, k=1.0)


ORACLE_BIGRAM_LM = """
WITH tl AS (
  SELECT doc_id,
         list_filter(string_split(lower(text), ' '), x -> x <> '') AS l
  FROM documents
), dbg AS (
  SELECT doc_id, u.big[1] AS ta, u.big[2] AS tb
  FROM tl, unnest(list_transform(range(1, len(l)),
        i -> [l[i], l[i + 1]])) AS u(big)
), uni AS (
  SELECT t.term AS ta, count(*) AS ca
  FROM tl, unnest(l) AS t(term)
  GROUP BY 1
), v AS (SELECT count(*) AS v FROM uni),
bgc AS (
  SELECT ta, tb, count(*) AS n_ab FROM dbg GROUP BY 1, 2
), prob AS (
  SELECT b.ta, b.tb,
         CAST(round(ln((b.n_ab::DOUBLE + 1.0)
                       / (u.ca::DOUBLE + 1.0 * v.v::DOUBLE)) * 1e9)
              AS BIGINT) AS logp_nano
  FROM bgc b JOIN uni u ON u.ta = b.ta CROSS JOIN v
), scored AS (
  SELECT d.doc_id, count(*) AS n_bigrams,
         CAST(sum(p.logp_nano) AS BIGINT) AS sum_logp_nano
  FROM dbg d JOIN prob p ON p.ta = d.ta AND p.tb = d.tb
  GROUP BY d.doc_id
)
SELECT t.doc_id,
       COALESCE(s.n_bigrams, 0) AS n_bigrams,
       COALESCE(s.sum_logp_nano, 0) AS sum_logp_nano
FROM (SELECT DISTINCT doc_id FROM tl) t
LEFT JOIN scored s ON s.doc_id = t.doc_id
"""


def q_quantized_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8 scalar-quantized ANN: quantize the embedding corpus
    (per-vector symmetric scale — similarity.quantize_embeddings),
    then brute-force cosine top-10 against vec_id=0's CODE vector.
    The per-vector scale cancels in cosine, so scoring is integer
    dot / integer norms — exact BIGINT accumulation over the 4×
    smaller code stream (the 100 TB ANN memory lever)."""
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    codes = sim.quantize_embeddings(emb)
    q = codes.filter(F.col("vec_id") == 0).select(
        F.col("codes").alias("qc")
    )
    prod = F.zip_with(
        F.col("codes"),
        F.col("qc"),
        lambda a, b: a.cast("long") * b.cast("long"),
    )
    idot = F.aggregate(
        prod, F.lit(0).cast("long"), lambda acc, x: acc + x
    )
    sq = lambda c: F.aggregate(  # noqa: E731
        F.transform(c, lambda x: x.cast("long") * x.cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    cn = F.sqrt(sq(F.col("codes")).cast("double"))
    qn = F.sqrt(sq(F.col("qc")).cast("double"))
    score = F.round(
        F.when((cn > 0) & (qn > 0), idot.cast("double") / (cn * qn))
        .otherwise(F.lit(0.0)),
        6,
    )
    return (
        codes.crossJoin(F.broadcast(q))
        .select("vec_id", score.alias("score"))
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(10)
    )


ORACLE_QUANTIZED_SEARCH = """
WITH amax AS (
  SELECT vec_id, embedding,
         list_max(list_transform(embedding, x -> abs(x::DOUBLE))) AS am
  FROM embeddings
), codes AS (
  SELECT vec_id,
         CASE WHEN am > 0
              THEN list_transform(embedding,
                     x -> CAST(round(x::DOUBLE / (am / 127.0)) AS BIGINT))
              ELSE list_transform(embedding, x -> CAST(0 AS BIGINT)) END AS c
  FROM amax
), q AS (SELECT c AS qc FROM codes WHERE vec_id = 0),
flat AS (
  SELECT vec_id, unnest(c) AS x, generate_subscripts(c, 1) AS i FROM codes
), qflat AS (
  SELECT unnest(qc) AS qx, generate_subscripts(qc, 1) AS i FROM q
), dots AS (
  SELECT f.vec_id,
         CAST(sum(f.x * qf.qx) AS BIGINT) AS idot,
         CAST(sum(f.x * f.x) AS BIGINT) AS nsq
  FROM flat f JOIN qflat qf USING (i)
  GROUP BY f.vec_id
), qn AS (SELECT CAST(sum(qx * qx) AS BIGINT) AS qsq FROM qflat)
SELECT vec_id,
       round(CASE WHEN nsq > 0 AND qsq > 0
                  THEN idot::DOUBLE / (sqrt(nsq::DOUBLE) * sqrt(qsq::DOUBLE))
                  ELSE 0 END, 6) AS score
FROM dots CROSS JOIN qn
ORDER BY score DESC, vec_id
LIMIT 10
"""


def q_edit_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact verification of MinHash candidate pairs by TRUE
    Levenshtein distance (the recall-then-precision dedup shape):
    pairs are corpus-rare, so the O(len²) distance runs on
    candidates only, never all-pairs."""
    docs = _ts(spark, sf_dir, "documents", "doc_id")
    pairs = dd.lsh_candidate_pairs(
        docs, num_hashes=16, bands=4, k=3, seed=42, cache=True
    ).select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    return sim.edit_distance_verify(docs, pairs, max_dist_ratio=0.4)


ORACLE_EDIT_VERIFY = (
    "WITH "
    + _minhash_cte_block(16, 4, 3, 42)
    + """
SELECT p.doc_a AS a, p.doc_b AS b,
       levenshtein(da.text, db.text) AS dist,
       round(CASE WHEN greatest(length(da.text), length(db.text)) > 0
                  THEN levenshtein(da.text, db.text)::DOUBLE
                       / greatest(length(da.text), length(db.text))
                  ELSE 0 END, 6) AS dist_ratio
FROM pairs p
JOIN documents da ON da.doc_id = p.doc_a
JOIN documents db ON db.doc_id = p.doc_b
WHERE CASE WHEN greatest(length(da.text), length(db.text)) > 0
           THEN levenshtein(da.text, db.text)::DOUBLE
                / greatest(length(da.text), length(db.text))
           ELSE 0 END <= 0.4
"""
)


def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier audit on document lengths: modified z-score
    0.6745·(x−median)/MAD with cutoff 3.5 (Iglewicz & Hoaglin) in
    flag mode — every doc kept, outliers marked. Two single-row
    exact-percentile aggregates broadcast back; no sort, no libm."""
    from .operators import mad_outliers

    docs = _t(spark, sf_dir, "documents")
    out = mad_outliers(docs, "n_chars", z=3.5, flag_name="is_outlier")
    return out.select("doc_id", "n_chars", "is_outlier")


ORACLE_MAD_OUTLIERS = """
WITH med AS (
  SELECT quantile_cont(n_chars::DOUBLE, 0.5) AS m FROM documents
), mad AS (
  SELECT quantile_cont(abs(n_chars::DOUBLE - m), 0.5) AS d
  FROM documents CROSS JOIN med
)
SELECT doc_id, n_chars,
       CASE WHEN d > 0
              AND abs(0.6745 * (n_chars::DOUBLE - m) / d) > 3.5
            THEN 1 ELSE 0 END AS is_outlier
FROM documents CROSS JOIN med CROSS JOIN mad
"""


def q_weighted_sample_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Efraimidis–Spirakis weighted sampling WITHOUT replacement in
    engine-exact deterministic mode: es_key = ln(u)/w with the
    atanh-series log (correctly-rounded IEEE arithmetic only — no
    libm; bit-identical across engines, see
    operators/grouping.py _det_ln_u). Exercises BOTH physical
    shapes: the global draw (TakeOrderedAndProject top-20 by
    n_chars weight) and the per-key draw (top-3 per lang via the
    WindowGroupLimit rank — the quota_per_key shape, weight-
    biased)."""
    from .operators import weighted_sample

    docs = _ts(spark, sf_dir, "documents", "doc_id")
    g = weighted_sample(
        docs, 20, "n_chars", "doc_id", seed=11, deterministic=True
    ).select(F.lit("global").alias("scope"), "doc_id", "n_chars")
    p = weighted_sample(
        docs, 3, "n_chars", "doc_id", seed=11, key="lang",
        deterministic=True,
    ).select(F.col("lang").alias("scope"), "doc_id", "n_chars")
    return g.unionByName(p)


#: shared fragment: the engine-exact ln(u) (atanh series over the
#: md5-rational uniform) — the EXACT SQL mirror of _det_ln_u; the
#: decimal literals must stay bit-identical to _LN_C/_LN2
_SQL_DET_LNU = """
WITH h AS (
  SELECT doc_id, lang, n_chars,
         greatest(CAST('0x' || substr(md5('11' || doc_id::VARCHAR), 1, 8)
                       AS BIGINT), 1) AS m
  FROM documents
), kk AS (
  SELECT doc_id, lang, n_chars, length(bin(m)) AS b,
         CAST(m AS DOUBLE)
           / CAST(CAST(1 AS BIGINT) << (length(bin(m)) - 1) AS DOUBLE) AS t
  FROM h
), zz AS (
  SELECT doc_id, lang, n_chars, b,
         (t - 1.0) / (t + 1.0) AS z,
         ((t - 1.0) / (t + 1.0)) * ((t - 1.0) / (t + 1.0)) AS s
  FROM kk
), lnu AS (
  SELECT doc_id, lang, n_chars,
         2.0 * z * (1.0 + s * (0.3333333333333333 + s * (0.2
           + s * (0.14285714285714285 + s * (0.1111111111111111
           + s * (0.09090909090909091 + s * 0.07692307692307693))))))
         + CAST(b - 33 AS DOUBLE) * 0.6931471805599453 AS ln_u
  FROM zz
), keyed AS (
  SELECT doc_id, lang, n_chars,
         CASE WHEN n_chars IS NOT NULL AND n_chars > 0
              THEN ln_u / CAST(n_chars AS DOUBLE) END AS es_key
  FROM lnu
)
"""

ORACLE_WEIGHTED_SAMPLE_DET = (
    _SQL_DET_LNU
    + """
SELECT 'global' AS scope, doc_id, n_chars
FROM (
  SELECT doc_id, n_chars
  FROM keyed
  ORDER BY es_key DESC NULLS LAST, doc_id
  LIMIT 20
)
UNION ALL
SELECT lang AS scope, doc_id, n_chars
FROM (
  SELECT lang, doc_id, n_chars,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY es_key DESC NULLS LAST, doc_id
         ) AS rn
  FROM keyed
)
WHERE rn <= 3
"""
)


def q_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus collocation mining: PMI of adjacent token pairs with
    count >= 5 (the multi-word-expression signal). One tokenize pass
    (persisted narrow token arrays), zip-shift bigrams (no self-join),
    fixed-point nano-nat PMI — engine-stable, full-table gate."""
    docs = _t(spark, sf_dir, "documents")
    return tx.bigram_pmi(docs, min_count=5)


ORACLE_COLLOCATIONS = """
WITH tl AS (
  SELECT doc_id,
         list_filter(string_split(lower(text), ' '), x -> x <> '') AS l
  FROM documents
), uni AS (
  SELECT t.term, count(*) AS c
  FROM tl, unnest(l) AS t(term)
  GROUP BY t.term
), ntok AS (SELECT sum(c) AS n_tok FROM uni),
bg AS (
  SELECT u.big[1] AS ta, u.big[2] AS tb
  FROM (SELECT list_zip(l[1:len(l)-1], l[2:len(l)]) AS bigs FROM tl),
       unnest(bigs) AS u(big)
), nbig AS (SELECT count(*) AS n_big FROM bg),
bgc AS (
  SELECT ta, tb, count(*) AS n_ab
  FROM bg GROUP BY ta, tb HAVING count(*) >= 5
)
SELECT bgc.ta AS term_a, bgc.tb AS term_b, n_ab,
       CAST(round(ln(
         (CAST(n_ab AS DOUBLE) / CAST(n_big AS DOUBLE))
         / ((CAST(ua.c AS DOUBLE) / CAST(n_tok AS DOUBLE))
            * (CAST(ub.c AS DOUBLE) / CAST(n_tok AS DOUBLE)))
       ) * 1e9) AS BIGINT) AS pmi_nano
FROM bgc
JOIN uni ua ON ua.term = bgc.ta
JOIN uni ub ON ub.term = bgc.tb
CROSS JOIN ntok CROSS JOIN nbig
"""


def q_contrastive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive (anchor, hardest in-cell positive, deterministic
    cross-cell negative) triples over the embeddings corpus — the
    training-pair mining shape for embedding models. Cell fold + one
    cell shuffle + per-anchor WindowGroupLimit; negatives are two
    single-row aggregates broadcast back."""
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    return sim.contrastive_pairs(emb, n_cells=16, seed=7)


def q_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew diagnostics on the events stream: heaviest event
    types with row count, corpus fraction, and the salt factor that
    would split each onto 1500-row tasks. One partial-agg shuffle +
    single-row total broadcast + TakeOrdered."""
    from .operators import skew_report

    ev = _t(spark, sf_dir, "events")
    return skew_report(ev, "event_type", top_n=10, target_rows_per_task=1500)


ORACLE_SKEW_REPORT = """
WITH c AS (
  SELECT event_type AS key, count(*) AS n FROM events GROUP BY 1
), t AS (SELECT sum(n) AS tot FROM c)
SELECT key, n,
       round(CAST(n AS DOUBLE) / CAST(tot AS DOUBLE), 9) AS frac,
       greatest(CAST(1 AS BIGINT), CAST(ceil(n / 1500.0) AS BIGINT)) AS salt
FROM c CROSS JOIN t
ORDER BY n DESC, key ASC
LIMIT 10
"""


def _synth_conv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic JSON conversation transcripts synthesized from
    the documents table (pure-ASCII content — identical strings on
    both engines), covering every diagnostic: malformed JSON
    (doc_id%11), consecutive same-role turns (%5), empty content
    (%7), a leading system turn (%3), and a clean user/assistant
    exchange (else). CASE order is significant and mirrored in the
    oracle SQL."""
    docs = _t(spark, sf_dir, "documents")
    base = F.concat(
        F.lit("q about "),
        F.col("lang"),
        F.lit(" #"),
        F.col("doc_id").cast("string"),
    )
    d = F.col("doc_id")
    conv = (
        F.when(d % 11 == 0, F.lit('[{"role":"user"'))
        .when(
            d % 5 == 0,
            F.concat(
                F.lit('[{"role":"user","content":"'),
                base,
                F.lit(
                    '"},{"role":"user","content":"again"},'
                    '{"role":"assistant","content":"ok"}]'
                ),
            ),
        )
        .when(
            d % 7 == 0,
            F.lit(
                '[{"role":"user","content":""},'
                '{"role":"assistant","content":"ok"}]'
            ),
        )
        .when(
            d % 3 == 0,
            F.concat(
                F.lit(
                    '[{"role":"system","content":"be helpful"},'
                    '{"role":"user","content":"'
                ),
                base,
                F.lit('"},{"role":"assistant","content":"fine"}]'),
            ),
        )
        .otherwise(
            F.concat(
                F.lit('[{"role":"user","content":"'),
                base,
                F.lit('"},{"role":"assistant","content":"re: '),
                base,
                F.lit('"}]'),
            )
        )
    )
    return docs.select("doc_id", conv.alias("conv_json"))


#: DuckDB mirror of _synth_conv (same CASE order, same literals).
_SYNTH_CONV_SQL = """
  SELECT doc_id,
         CASE
           WHEN doc_id % 11 = 0 THEN '[{"role":"user"'
           WHEN doc_id % 5 = 0 THEN
             '[{"role":"user","content":"' || b ||
             '"},{"role":"user","content":"again"},' ||
             '{"role":"assistant","content":"ok"}]'
           WHEN doc_id % 7 = 0 THEN
             '[{"role":"user","content":""},' ||
             '{"role":"assistant","content":"ok"}]'
           WHEN doc_id % 3 = 0 THEN
             '[{"role":"system","content":"be helpful"},' ||
             '{"role":"user","content":"' || b ||
             '"},{"role":"assistant","content":"fine"}]'
           ELSE
             '[{"role":"user","content":"' || b ||
             '"},{"role":"assistant","content":"re: ' || b || '"}]'
         END AS conv_json
  FROM (SELECT doc_id, 'q about ' || lang || ' #' || doc_id AS b
        FROM documents)
"""


def q_chat_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT-corpus QA gate: parse synthesized JSON conversations and
    emit per-conversation structural diagnostics (turn counts, role
    alternation, system placement, empty content, assistant-final)
    via chat.conversation_stats — one stateless from_json scan, all
    checks higher-order array expressions."""
    return ch.conversation_stats(_synth_conv(spark, sf_dir))


ORACLE_CHAT_VALIDATE = f"""
WITH s AS ({_SYNTH_CONV_SQL}
), p AS (
  SELECT doc_id,
         CASE WHEN json_valid(conv_json) THEN json_transform(
                conv_json,
                '[{{"role":"VARCHAR","content":"VARCHAR"}}]')
              ELSE NULL END AS turns
  FROM s
), m AS (
  SELECT doc_id, turns,
         turns IS NOT NULL AS parse_ok,
         list_filter(turns, t -> t.role <> 'system') AS body,
         len(list_filter(turns, t -> t.role = 'system')) AS n_sys
  FROM p
)
SELECT doc_id,
       parse_ok,
       CASE WHEN parse_ok THEN len(turns) ELSE 0 END::BIGINT AS n_turns,
       CASE WHEN parse_ok
            THEN len(list_filter(turns, t -> t.role = 'user'))
            ELSE 0 END::BIGINT AS n_user,
       CASE WHEN parse_ok
            THEN len(list_filter(turns, t -> t.role = 'assistant'))
            ELSE 0 END::BIGINT AS n_assistant,
       CASE WHEN parse_ok THEN n_sys ELSE 0 END::BIGINT AS n_system,
       CASE WHEN parse_ok THEN coalesce(list_aggregate(
              list_transform(turns,
                             t -> coalesce(length(t.content), 0)),
              'sum'), 0)
            ELSE 0 END::BIGINT AS content_chars,
       coalesce(parse_ok AND (n_sys = 0 OR (n_sys = 1
                AND turns[1].role = 'system')), FALSE) AS sys_ok,
       coalesce(parse_ok AND len(list_filter(body, (t, i) ->
                t.role = CASE WHEN (i - 1) % 2 = 0 THEN 'user'
                              ELSE 'assistant' END)) = len(body),
                FALSE) AS alt_ok,
       coalesce(parse_ok AND len(list_filter(turns, t ->
                t.content IS NOT NULL AND length(t.content) > 0))
                = len(turns), FALSE) AS no_empty,
       coalesce(parse_ok AND len(body) > 0
                AND body[len(body)].role = 'assistant', FALSE)
         AS ends_assistant,
       coalesce(parse_ok
                AND (n_sys = 0 OR (n_sys = 1
                     AND turns[1].role = 'system'))
                AND len(list_filter(body, (t, i) ->
                    t.role = CASE WHEN (i - 1) % 2 = 0 THEN 'user'
                                  ELSE 'assistant' END)) = len(body)
                AND len(list_filter(turns, t ->
                    t.content IS NOT NULL
                    AND length(t.content) > 0)) = len(turns)
                AND len(body) > 0
                AND body[len(body)].role = 'assistant', FALSE) AS valid
FROM m
"""


def q_chat_turns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-turn flattening of the synthesized conversations:
    (doc_id, turn_idx, role, content) — malformed transcripts yield
    no rows."""
    return ch.flatten_turns(_synth_conv(spark, sf_dir))


ORACLE_CHAT_TURNS = f"""
WITH s AS ({_SYNTH_CONV_SQL}
), p AS (
  SELECT doc_id,
         CASE WHEN json_valid(conv_json) THEN json_transform(
                conv_json,
                '[{{"role":"VARCHAR","content":"VARCHAR"}}]')
              ELSE NULL END AS turns
  FROM s
)
SELECT doc_id, (i - 1)::BIGINT AS turn_idx,
       turns[i].role AS role, turns[i].content AS content
FROM p, unnest(range(1, len(turns) + 1)) AS u(i)
WHERE turns IS NOT NULL
"""


def _synth_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic URLs synthesized from documents (pure ASCII,
    identical strings on both engines): mixed-case scheme+host,
    four host variants, tracking params + fragment on every third
    URL, unsorted params on doc_id%3==1, bare on the rest."""
    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    host = (
        F.when(d % 4 == 0, F.lit("WWW.Example.COM"))
        .when(d % 4 == 1, F.lit("blog.example.org"))
        .when(d % 4 == 2, F.lit("spam.example.net"))
        .otherwise(F.lit("cdn.example.io"))
    )
    tail = (
        F.when(
            d % 3 == 0,
            F.concat(
                F.lit("?utm_source=feed&id="),
                d.cast("string"),
                F.lit("&b=2#top"),
            ),
        )
        .when(d % 3 == 1, F.lit("?z=9&a=1"))
        .otherwise(F.lit(""))
    )
    url = F.concat(
        F.lit("HTTPS://"), host, F.lit("/Posts/"), d.cast("string"), tail
    )
    return docs.select("doc_id", url.alias("url"), "text")


#: DuckDB mirror of _synth_urls (same CASE order, same literals).
_SYNTH_URLS_SQL = """
  SELECT doc_id,
         'HTTPS://' ||
         CASE WHEN doc_id % 4 = 0 THEN 'WWW.Example.COM'
              WHEN doc_id % 4 = 1 THEN 'blog.example.org'
              WHEN doc_id % 4 = 2 THEN 'spam.example.net'
              ELSE 'cdn.example.io' END ||
         '/Posts/' || doc_id ||
         CASE WHEN doc_id % 3 = 0
                THEN '?utm_source=feed&id=' || doc_id || '&b=2#top'
              WHEN doc_id % 3 = 1 THEN '?z=9&a=1'
              ELSE '' END AS url,
         text
  FROM documents
"""

#: shared DuckDB CTE: parse + normalize the synthesized URLs
#: (mirrors web.normalize_url step by step).
_URL_PARTS_SQL = """
parts AS (
  SELECT doc_id, url, text,
    lower(regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1))
      AS scheme,
    lower(regexp_extract(url,
          '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1)) AS host,
    regexp_extract(url,
          '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path,
    regexp_extract(url, '\\?([^#]*)', 1) AS q
  FROM s
), np AS (
  SELECT doc_id, url, text, scheme, host, path,
    list_sort(list_filter(string_split(q, '&'),
      p -> p <> '' AND NOT regexp_matches(p,
           '^(utm_[a-z]+|fbclid|gclid|ref)='))) AS ps
  FROM parts
), normed AS (
  SELECT doc_id, url, text, host,
    scheme || '://' || host || path ||
    CASE WHEN len(ps) > 0 THEN '?' || array_to_string(ps, '&')
         ELSE '' END AS norm_url
  FROM np
)
"""


def q_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization (the RefinedWeb dedup key): lowercase
    scheme+host, drop fragment, strip tracking params, sort the
    survivors — web.normalize_url, one regexp+array scan."""
    synth = _synth_urls(spark, sf_dir)
    from .functions import web as wb

    return synth.select(
        "doc_id",
        "url",
        wb.url_host("url").alias("host"),
        wb.normalize_url("url").alias("norm_url"),
    )


ORACLE_URL_NORMALIZE = f"""
WITH s AS ({_SYNTH_URLS_SQL}
), {_URL_PARTS_SQL}
SELECT doc_id, url, host, norm_url FROM normed
"""


#: per-host robots.txt fixtures for q_robots_filter (cdn.example.io
#: deliberately has NO robots row — the default-allow path)
_ROBOTS_FIXTURES = [
    (
        "www.example.com",
        "# site rules\nUser-agent: *\nDisallow: /private/\n"
        "Allow: /private/ok\nDisallow:\n",
    ),
    (
        "blog.example.org",
        "User-agent: trainer\nDisallow: /\n\n"
        "User-agent: *\nDisallow: /tmp/\n",
    ),
    ("spam.example.net", "User-agent: *\nDisallow: /\n"),
]


def q_robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt gate (round 10 s2; gated since CORRECTNESS_r10): synthesized URLs with
    five path shapes against per-host robots fixtures — longest-
    match Allow/Disallow with the Allow tiebreak, agent-group
    resolution, empty-Disallow no-op, and the missing-robots
    default-allow all land in one corpus pass. The hosts-sized rules
    table BROADCASTS; the per-URL decision is a codegen'd array
    expression (no Python on the corpus-sized side)."""
    from .functions import web as wb

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    host = (
        F.when(d % 4 == 0, F.lit("WWW.Example.COM"))
        .when(d % 4 == 1, F.lit("blog.example.org"))
        .when(d % 4 == 2, F.lit("spam.example.net"))
        .otherwise(F.lit("cdn.example.io"))
    )
    path = (
        F.when(d % 5 == 0, F.concat(F.lit("/private/ok/"), d.cast("string")))
        .when(d % 5 == 1, F.concat(F.lit("/private/"), d.cast("string")))
        .when(d % 5 == 2, F.concat(F.lit("/tmp/"), d.cast("string")))
        .when(d % 5 == 3, F.lit("/"))
        .otherwise(F.concat(F.lit("/posts/"), d.cast("string")))
    )
    urls = docs.select(
        "doc_id", F.concat(F.lit("https://"), host, path).alias("url")
    )
    robots = local_table(
        spark, _ROBOTS_FIXTURES, "host string, robots_txt string"
    )
    return wb.robots_filter(urls, robots, agent="*").select(
        "doc_id", "url", "host", "allowed"
    )


ORACLE_ROBOTS_FILTER = """
WITH u AS (
  SELECT doc_id,
    CASE doc_id % 4 WHEN 0 THEN 'WWW.Example.COM'
         WHEN 1 THEN 'blog.example.org'
         WHEN 2 THEN 'spam.example.net'
         ELSE 'cdn.example.io' END AS rawhost,
    CASE doc_id % 5
      WHEN 0 THEN '/private/ok/' || CAST(doc_id AS VARCHAR)
      WHEN 1 THEN '/private/' || CAST(doc_id AS VARCHAR)
      WHEN 2 THEN '/tmp/' || CAST(doc_id AS VARCHAR)
      WHEN 3 THEN '/'
      ELSE '/posts/' || CAST(doc_id AS VARCHAR) END AS path
  FROM documents
)
SELECT doc_id,
       'https://' || rawhost || path AS url,
       lower(rawhost) AS host,
       CASE lower(rawhost)
         WHEN 'www.example.com' THEN
           (NOT starts_with(path, '/private/'))
           OR starts_with(path, '/private/ok')
         WHEN 'blog.example.org' THEN NOT starts_with(path, '/tmp/')
         WHEN 'spam.example.net' THEN FALSE
         ELSE TRUE
       END AS allowed
FROM u
"""


def q_host_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host corpus profile over the synthesized URLs: doc
    count, distinct normalized URLs, total chars — the block/allow
    list working table (web.host_stats, hosts-sized output)."""
    synth = _synth_urls(spark, sf_dir)
    from .functions import web as wb

    return wb.host_stats(synth)


ORACLE_HOST_STATS = f"""
WITH s AS ({_SYNTH_URLS_SQL}
), {_URL_PARTS_SQL}
SELECT host,
       count(*)::BIGINT AS n_docs,
       count(DISTINCT norm_url)::BIGINT AS n_urls,
       sum(length(text))::BIGINT AS total_chars
FROM normed GROUP BY host
"""


#: pinned dictionary for the gated topic-tagging query (terms chosen
#: from the corpus vocabulary so every topic actually fires)
_TOPIC_DICT: dict[str, list[str]] = {
    "joins": ["join", "merge", "hash"],
    "scans": ["scan", "filter", "column"],
    "streaming": ["stream", "window", "batch"],
}


def q_topic_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dictionary topic tagging: distinct-term hit counts per
    (doc, topic) over a pinned 3-topic dictionary — one tokenize
    scan, one array_intersect per topic (text.topic_tags)."""
    docs = _t(spark, sf_dir, "documents")
    return tx.topic_tags(docs, _TOPIC_DICT)


def _topic_tags_oracle() -> str:
    branches = "\n".join(
        "    SELECT doc_id, '{name}' AS topic,"
        " len(list_intersect(toks, {terms}))::BIGINT AS n_terms_hit"
        " FROM tok{union}".format(
            name=name,
            terms="[" + ", ".join(f"'{t}'" for t in terms) + "]",
            union="" if i == len(_TOPIC_DICT) - 1 else "\n    UNION ALL",
        )
        for i, (name, terms) in enumerate(sorted(_TOPIC_DICT.items()))
    )
    return f"""
WITH tok AS (
  SELECT doc_id,
         list_distinct(list_filter(string_split(lower(text), ' '),
                                   x -> x <> '')) AS toks
  FROM documents
), tagged AS (
{branches}
)
SELECT doc_id, topic, n_terms_hit FROM tagged WHERE n_terms_hit > 0
"""


ORACLE_TOPIC_TAGS = _topic_tags_oracle()


def q_embedding_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding integrity audit: inject degenerate vectors
    deterministically (NULL at %13, all-zero at %11, NaN-poisoned
    first element at %7) and flag them via similarity.embedding_audit
    — the pre-flight ANN/dedup jobs run to quarantine bad rows."""
    emb = _t(spark, sf_dir, "embeddings")
    v = F.col("embedding")
    k = F.col("vec_id")
    synth = emb.select(
        "vec_id",
        F.when(k % 13 == 0, F.lit(None).cast("array<float>"))
        .when(k % 11 == 0, F.transform(v, lambda x: F.lit(0.0).cast("float")))
        .when(
            k % 7 == 0,
            F.transform(
                v,
                lambda x, i: F.when(
                    i == 0, F.lit(float("nan")).cast("float")
                ).otherwise(x),
            ),
        )
        .otherwise(v)
        .alias("embedding"),
    )
    return sim.embedding_audit(synth)


ORACLE_EMBEDDING_AUDIT = """
WITH s AS (
  SELECT vec_id,
    CASE WHEN vec_id % 13 = 0 THEN NULL
         WHEN vec_id % 11 = 0
           THEN list_transform(embedding, x -> 0.0::FLOAT)
         WHEN vec_id % 7 = 0
           THEN list_transform(embedding, (x, i) ->
                CASE WHEN i = 1 THEN 'nan'::FLOAT ELSE x END)
         ELSE embedding END AS v
  FROM embeddings
)
SELECT vec_id,
  (CASE WHEN v IS NULL THEN 0 ELSE len(v) END)::BIGINT AS dim,
  (CASE WHEN v IS NULL THEN 0
        ELSE len(list_filter(v, x -> isnan(x))) END)::BIGINT AS n_nan,
  (CASE WHEN v IS NULL THEN 0
        ELSE len(list_filter(v, x -> x = 'infinity'::FLOAT
                                  OR x = '-infinity'::FLOAT))
   END)::BIGINT AS n_inf,
  CASE WHEN v IS NULL THEN FALSE
       ELSE coalesce(list_aggregate(
              list_transform(list_filter(v, x -> NOT isnan(x)),
                             x -> x * x), 'sum'), 0) = 0
            AND len(list_filter(v, x -> isnan(x))) = 0
  END AS is_zero,
  v IS NULL AS is_null
FROM s
"""


def q_sentence_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence-aware greedy chunking (RAG splitter) at a 32-token
    budget: chunks never split a sentence; the greedy fold is one
    aggregate expression, mirrored by a recursive CTE in the
    oracle. Corpus texts have no sentence punctuation, so the synth
    slices each doc into three '.'-terminated sentences to exercise
    multi-chunk packing."""
    docs = _t(spark, sf_dir, "documents")
    synth = docs.select(
        "doc_id",
        F.concat(
            F.substring("text", 1, 97),
            F.lit(". "),
            F.substring("text", 98, 95),
            F.lit(". "),
            F.substring("text", 193, 90),
            F.lit("."),
        ).alias("text"),
    )
    return tx.chunk_by_sentences(synth, 32)


ORACLE_SENTENCE_CHUNKS = """
WITH RECURSIVE s0 AS (
  SELECT doc_id,
         substr(text, 1, 97) || '. ' || substr(text, 98, 95) || '. '
           || substr(text, 193, 90) || '.' AS text
  FROM documents
), s AS (
  SELECT doc_id,
         string_split(regexp_replace(text, '([.!?]) ',
                                     '\\1' || chr(30), 'g'),
                      chr(30)) AS sents
  FROM s0
), c AS (
  SELECT doc_id, sents,
         list_transform(sents, x ->
           len(list_filter(string_split(x, ' '), t -> t <> ''))) AS cnts
  FROM s
), walk AS (
  SELECT doc_id, 1 AS idx, 0 AS chunk, cnts[1] AS acc
  FROM c WHERE len(cnts) >= 1
  UNION ALL
  SELECT w.doc_id, w.idx + 1,
         CASE WHEN w.acc + c.cnts[w.idx + 1] > 32 AND w.acc > 0
              THEN w.chunk + 1 ELSE w.chunk END,
         CASE WHEN w.acc + c.cnts[w.idx + 1] > 32 AND w.acc > 0
              THEN c.cnts[w.idx + 1]
              ELSE w.acc + c.cnts[w.idx + 1] END
  FROM walk w JOIN c USING (doc_id)
  WHERE w.idx < len(c.cnts)
)
SELECT w.doc_id,
       w.chunk::BIGINT AS chunk_id,
       string_agg(c.sents[w.idx], ' ' ORDER BY w.idx) AS chunk_text,
       sum(c.cnts[w.idx])::BIGINT AS n_tok
FROM walk w JOIN c USING (doc_id)
GROUP BY w.doc_id, w.chunk
"""


def q_fk_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit (operators.fk_audit): orders →
    customer with deterministically corrupted keys (orphaned at
    %97 == 0, NULLed at %89 == 0) so every counter is exercised.
    Child rows never shuffle — the child reduces to a key-count
    table first."""
    from .operators import fk_audit

    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    k = F.col("o_orderkey")
    synth = orders.select(
        F.when(k % 89 == 0, F.lit(None).cast("long"))
        .when(k % 97 == 0, F.col("o_custkey") + 10_000_000)
        .otherwise(F.col("o_custkey"))
        .alias("o_custkey")
    )
    return fk_audit(synth, cust, "o_custkey", "c_custkey")


ORACLE_FK_AUDIT = """
WITH s AS (
  SELECT CASE WHEN o_orderkey % 89 = 0 THEN NULL
              WHEN o_orderkey % 97 = 0 THEN o_custkey + 10000000
              ELSE o_custkey END AS k
  FROM orders
), p AS (SELECT DISTINCT c_custkey FROM customer)
SELECT count(*)::BIGINT AS n_child,
       sum(CASE WHEN s.k IS NULL THEN 1 ELSE 0 END)::BIGINT
         AS n_null_key,
       sum(CASE WHEN s.k IS NOT NULL AND p.c_custkey IS NULL
                THEN 1 ELSE 0 END)::BIGINT AS n_orphan,
       sum(CASE WHEN p.c_custkey IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
         AS n_matched
FROM s LEFT JOIN p ON s.k = p.c_custkey
"""


def q_sft_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT token accounting over the synthesized transcripts: total
    vs assistant-only (loss) whitespace tokens and the micro
    fixed-point loss fraction (chat.sft_token_stats)."""
    return ch.sft_token_stats(_synth_conv(spark, sf_dir))


ORACLE_SFT_TOKENS = f"""
WITH s AS ({_SYNTH_CONV_SQL}
), p AS (
  SELECT doc_id,
         CASE WHEN json_valid(conv_json) THEN json_transform(
                conv_json,
                '[{{"role":"VARCHAR","content":"VARCHAR"}}]')
              ELSE NULL END AS turns
  FROM s
), m AS (
  SELECT doc_id, turns,
         turns IS NOT NULL AS ok,
         coalesce(list_aggregate(list_transform(turns, t ->
           len(list_filter(string_split(coalesce(t.content, ''), ' '),
               x -> x != ''))), 'sum'), 0)
           AS total,
         coalesce(list_aggregate(list_transform(
           list_filter(turns, t -> t.role = 'assistant'), t ->
           len(list_filter(string_split(coalesce(t.content, ''), ' '),
               x -> x != ''))), 'sum'), 0)
           AS loss
  FROM p
)
SELECT doc_id,
       (CASE WHEN ok THEN len(turns) ELSE 0 END)::BIGINT AS n_turns,
       (CASE WHEN ok THEN total ELSE 0 END)::BIGINT AS n_tok_total,
       (CASE WHEN ok THEN loss ELSE 0 END)::BIGINT AS n_tok_loss,
       (CASE WHEN ok AND total > 0 THEN (loss * 1000000) // total
             ELSE 0 END)::BIGINT AS loss_frac_micro
FROM m
"""


def q_canary_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-tracing canaries end-to-end: plant deterministic
    canaries in every ~10th doc (md5 pick, seed 3), then detect
    them in the released corpus by containment — every planted
    canary must be found exactly once (dedup.insert_canaries /
    detect_canaries)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    marked = dd.insert_canaries(docs, every=10, seed=3)
    planted = marked.where(F.col("canary").isNotNull()).select(
        "doc_id", "canary"
    )
    return dd.detect_canaries(marked, planted)


ORACLE_CANARY_REPORT = """
WITH m AS (
  SELECT doc_id, text,
         (CAST('0x' || substr(md5('3' || chr(31) || doc_id), 1, 8)
               AS BIGINT) % 10 = 0) AS pick,
         '[[CANARY-' || md5('3' || chr(31) || doc_id) || ']]' AS can
  FROM documents
), rel AS (
  SELECT doc_id,
         CASE WHEN pick THEN text || ' ' || can ELSE text END AS text
  FROM m
), exp AS (
  SELECT doc_id AS src_doc_id, can AS canary FROM m WHERE pick
)
SELECT e.src_doc_id, e.canary,
       count(r.doc_id)::BIGINT AS n_docs,
       count(r.doc_id) > 0 AS found
FROM exp e LEFT JOIN rel r ON contains(r.text, e.canary)
GROUP BY 1, 2
"""


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix over the events stream: users
    bucketed by first-activity week, counted in every week they
    return. Raw events shuffle once (distinct user-week reduction);
    cohort is a window min on the same partitioning."""
    from .functions.events import cohort_retention

    ev = _t(spark, sf_dir, "events")
    return cohort_retention(ev, "user_id", "ts", period="week")


ORACLE_COHORT_RETENTION = """
WITH up AS (
  SELECT DISTINCT user_id,
         CAST(floor(epoch(date_trunc('week', ts))) AS BIGINT) AS period
  FROM events
), lab AS (
  SELECT user_id, period,
         min(period) OVER (PARTITION BY user_id) AS cohort
  FROM up
)
SELECT cohort, period, count(*) AS n_users FROM lab GROUP BY 1, 2
"""


def q_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail tiers: per-SOURCE terciles of the
    corpus-unigram pseudo-perplexity (each source's distribution sets
    its own cuts — one source's register never skews another's
    tiers). Composition: unigram_doc_scores (fixed-point nano-nats)
    → quantile_buckets_per_key (per-key exact percentile cuts,
    broadcast back) → tier label. Gate checks every doc's tier."""
    from .operators import quantile_buckets_per_key

    docs = _t(spark, sf_dir, "documents")
    scores = tx.unigram_doc_scores(docs).select(
        "doc_id",
        F.round(
            -F.col("sum_logp_nano").cast("double")
            / F.col("n_toks").cast("double")
            / 1e9,
            6,
        ).alias("neg_logp"),
    )
    scored = docs.select("doc_id", "source").join(scores, "doc_id")
    tiers = quantile_buckets_per_key(
        scored, "neg_logp", 3, "source", bucket_name="tier_no"
    )
    tier = (
        F.when(F.col("tier_no") == 1, "head")
        .when(F.col("tier_no") == 2, "middle")
        .otherwise("tail")
    )
    return tiers.select("doc_id", "source", tier.alias("tier"))


ORACLE_CCNET_BUCKETS = """
WITH toks AS (
  SELECT doc_id, t.term
  FROM documents, unnest(string_split(lower(text), ' ')) AS t(term)
  WHERE t.term <> ''
), freqs AS (
  SELECT term, count(*) AS n FROM toks GROUP BY term
), tot AS (
  SELECT sum(n) AS total FROM freqs
), lm AS (
  SELECT term,
         CAST(round(ln(n * 1.0 / total) * 1e9) AS BIGINT) AS logp_nano
  FROM freqs CROSS JOIN tot
), per_doc AS (
  SELECT toks.doc_id, count(*) AS n_toks, sum(lm.logp_nano) AS slp
  FROM toks JOIN lm USING (term)
  GROUP BY toks.doc_id
), scored AS (
  SELECT d.doc_id, d.source,
         round(-p.slp * 1.0 / p.n_toks / 1e9, 6) AS neg_logp
  FROM documents d JOIN per_doc p ON p.doc_id = d.doc_id
), cuts AS (
  SELECT source,
         percentile_cont(1.0/3) WITHIN GROUP (ORDER BY neg_logp) AS c1,
         percentile_cont(2.0/3) WITHIN GROUP (ORDER BY neg_logp) AS c2
  FROM scored GROUP BY source
)
SELECT s.doc_id, s.source,
       CASE WHEN s.neg_logp < c.c1 THEN 'head'
            WHEN s.neg_logp < c.c2 THEN 'middle'
            ELSE 'tail' END AS tier
FROM scored s JOIN cuts c USING (source)
"""


def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based corpus mixing (multilingual-T5/XLM-R
    recipe): per-source token budgets ∝ (source tokens)^0.5,
    admission in deterministic md5 order. Gate checks the admitted
    subset itself (full equality)."""
    from .operators import temperature_mix

    docs = _t(spark, sf_dir, "documents").withColumn(
        "n_tok", tx.token_count("text").cast("long")
    )
    out = temperature_mix(
        docs, "source", "n_tok", total_budget=8000, alpha=0.5, seed=42
    )
    return out.select("doc_id", "source", "n_tok")


ORACLE_TEMPERATURE_MIX = """
WITH d AS (
  SELECT doc_id, source,
         len(string_split(lower(text), ' '))::BIGINT AS n_tok
  FROM documents
), t AS (
  SELECT source, sum(n_tok)::BIGINT AS n FROM d GROUP BY source
), s AS (
  SELECT sum(pow(n::DOUBLE, 0.5)) AS sm FROM t
), b AS (
  SELECT source,
         floor(8000 * round(pow(n::DOUBLE, 0.5) / (SELECT sm FROM s), 9))::BIGINT
           AS budget
  FROM t
), o AS (
  SELECT d.doc_id, d.source, d.n_tok, b.budget,
         sum(d.n_tok) OVER (PARTITION BY d.source
            ORDER BY md5('42' || d.doc_id::VARCHAR)
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM d JOIN b USING (source)
)
SELECT doc_id, source, n_tok FROM o WHERE cum <= budget AND budget > 0
"""


def q_dsir_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance scoring (Xie et al. 2023): rank raw-corpus
    docs by hashed-unigram log-ratio against a target distribution
    (src1 docs stand in for the quality target). Broadcast
    bucket-table join, fixed-point nano-nat sums — engine-exact."""
    docs = _t(spark, sf_dir, "documents")
    target = docs.filter(F.col("source") == "src1")
    raw = docs.filter(F.col("source") != "src1")
    return tx.dsir_scores(raw, target, n_buckets=512)


ORACLE_DSIR_SCORES = """
WITH rt AS (
  SELECT doc_id,
         CAST('0x' || substr(md5(term), 1, 8) AS BIGINT) % 512 AS bucket
  FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
        FROM documents WHERE source <> 'src1')
  WHERE term <> ''
), tt AS (
  SELECT CAST('0x' || substr(md5(term), 1, 8) AS BIGINT) % 512 AS bucket
  FROM (SELECT unnest(string_split(lower(text), ' ')) AS term
        FROM documents WHERE source = 'src1')
  WHERE term <> ''
), dom AS (
  SELECT id AS bucket FROM range(512) t(id)
), rc AS (
  SELECT bucket, count(*) AS c_raw FROM rt GROUP BY bucket
), tc AS (
  SELECT bucket, count(*) AS c_tgt FROM tt GROUP BY bucket
), ratios AS (
  SELECT d.bucket,
         CAST(round((ln(coalesce(tc.c_tgt, 0) + 1)
               - ln((SELECT count(*) FROM tt) + 512)
               - ln(coalesce(rc.c_raw, 0) + 1)
               + ln((SELECT count(*) FROM rt) + 512)) * 1e9) AS BIGINT)
           AS lr_nano
  FROM dom d LEFT JOIN rc ON rc.bucket = d.bucket
             LEFT JOIN tc ON tc.bucket = d.bucket
)
SELECT rt.doc_id, count(*) AS n_toks,
       round(sum(r.lr_nano) / 1e9, 6) AS dsir_score
FROM rt JOIN ratios r ON r.bucket = rt.bucket
GROUP BY rt.doc_id
"""


def q_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass ingest profile of the documents table: per-column
    counts, exact distincts, min/max — the batch-validation op."""
    from .operators import profile_table

    docs = _t(spark, sf_dir, "documents")
    return profile_table(docs, ["doc_id", "lang", "source", "n_chars"])


ORACLE_PROFILE = """
SELECT 'doc_id' AS column, count(*) AS n_rows, count(doc_id) AS n_nonnull,
       count(DISTINCT doc_id) AS n_distinct,
       min(doc_id)::VARCHAR AS min_value, max(doc_id)::VARCHAR AS max_value
FROM documents
UNION ALL
SELECT 'lang', count(*), count(lang), count(DISTINCT lang),
       min(lang), max(lang) FROM documents
UNION ALL
SELECT 'source', count(*), count(source), count(DISTINCT source),
       min(source), max(source) FROM documents
UNION ALL
SELECT 'n_chars', count(*), count(n_chars), count(DISTINCT n_chars),
       min(n_chars)::VARCHAR, max(n_chars)::VARCHAR FROM documents
"""


def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long → wide): order counts per status × priority.
    Explicit `values` list — no extra distinct-discovery scan."""
    from .operators import pivot_table

    orders = _t(spark, sf_dir, "orders")
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    out = pivot_table(
        orders, "o_orderstatus", "o_orderpriority",
        F.count(F.lit(1)), values=prios, key_name="o_orderstatus",
    )
    renames = {p: f"p{i + 1}" for i, p in enumerate(prios)}
    return out.withColumnsRenamed(renames)


ORACLE_PIVOT = """
SELECT o_orderstatus,
       count(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END) AS p1,
       count(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 END) AS p2,
       count(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 END) AS p3,
       count(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 END) AS p4,
       count(CASE WHEN o_orderpriority = '5-LOW' THEN 1 END) AS p5
FROM orders GROUP BY o_orderstatus
"""


def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP subtotals: (returnflag, linestatus) → per-pair,
    per-flag, and grand-total sums with grouping_id to disambiguate
    subtotal rows from genuine NULL keys."""
    from .operators import rollup_agg

    li = _t(spark, sf_dir, "lineitem")
    return rollup_agg(
        li,
        ["l_returnflag", "l_linestatus"],
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


ORACLE_ROLLUP = """
SELECT l_returnflag, l_linestatus,
       grouping(l_returnflag) * 2 + grouping(l_linestatus) AS gid,
       count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def q_ngram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram counts (collocations): reuses the shingle
    machinery (distinct word k-grams per doc) → explode → partial-agg
    count → deterministic top-20 (count desc, bigram asc). One
    shuffle + TakeOrdered."""
    docs = _ts(spark, sf_dir, "documents", "doc_id")
    grams = docs.select(
        F.explode(dd.shingles("text", k=2)).alias("bigram")
    )
    counts = grams.groupBy("bigram").agg(F.count(F.lit(1)).alias("n"))
    return top_k(counts, 20, [F.col("n").desc(), F.col("bigram").asc()])


ORACLE_NGRAM_COUNTS = """
WITH toks AS (
  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
), grams AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
           range(1, greatest(len(t) - 1, 1) + 1),
           i -> array_to_string(t[i:i+1], ' ')))) AS bigram
  FROM toks
)
SELECT bigram, count(*) AS n
FROM grams GROUP BY bigram
ORDER BY n DESC, bigram ASC LIMIT 20
"""


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling (training-mix reweighting):
    exact ceil(fraction·count) docs per lang chosen by md5(seed‖id)
    order — reproducible and oracle-checkable. Gate output = the
    sampled ids themselves (full subset equality, not just counts)."""
    from .operators import stratified_sample

    docs = _t(spark, sf_dir, "documents")
    out = stratified_sample(
        docs, "lang", {"en": 0.5, "fr": 0.1}, seed=7, deterministic_by="doc_id"
    )
    return out.select("doc_id", "lang")


ORACLE_STRATIFIED_SAMPLE = """
WITH eligible AS (
  SELECT doc_id, lang,
         CASE lang WHEN 'en' THEN 0.5 WHEN 'fr' THEN 0.1 END AS frac,
         row_number() OVER (PARTITION BY lang
                            ORDER BY md5('7' || doc_id::VARCHAR)) AS rk,
         count(*) OVER (PARTITION BY lang) AS n
  FROM documents
  WHERE lang IN ('en', 'fr')
)
SELECT doc_id, lang FROM eligible WHERE rk <= ceil(n * frac)
"""


def q_rolling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 1-hour rolling aggregate per user at every event
    (streaming.rolling_agg — bounded RANGE frame, one shuffle, JVM
    WindowExec). Values sum as integer cents so the rolling sums are
    bit-exact across engines (float frame-sum order differs between
    Spark's running accumulation and DuckDB's segment tree)."""
    from .streaming import rolling_agg

    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.col("ts").cast("double").alias("epoch"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    out = rolling_agg(
        ev,
        ["user_id"],
        "epoch",
        3600.0,
        n_1h=F.count(F.lit(1)),
        sum_cents_1h=F.sum("cents"),
    )
    return out.select(
        "event_id",
        "user_id",
        "n_1h",
        F.round(F.col("sum_cents_1h").cast("double") / 100, 2).alias("sum_value_1h"),
    )


ORACLE_ROLLING_WINDOW = """
WITH ev AS (
  SELECT event_id, user_id, epoch(ts) AS ep,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
)
SELECT event_id, user_id,
       count(*) OVER w AS n_1h,
       round(sum(cents) OVER w / 100.0, 2) AS sum_value_1h
FROM ev
WINDOW w AS (PARTITION BY user_id ORDER BY ep
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
"""


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event session labeling (30-min gap) → per-user session
    count + events in the user's longest session. One shuffle + one
    ordered window; gaps-and-islands on both engines."""
    from .operators import sessionize

    ev = _t(spark, sf_dir, "events")
    labeled = sessionize(ev, "user_id", "ts", gap_seconds=1800)
    per_session = labeled.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    return per_session.groupBy("user_id").agg(
        F.countDistinct("session_id").alias("n_sessions"),
        F.max("n_events").alias("max_session_events"),
    )


ORACLE_SESSIONIZE = """
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
               OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
              THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), labeled AS (
  SELECT user_id,
         sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS UNBOUNDED PRECEDING) - 1 AS session_id
  FROM flagged
), per_session AS (
  SELECT user_id, session_id, count(*) AS n_events
  FROM labeled GROUP BY user_id, session_id
)
SELECT user_id, count(DISTINCT session_id) AS n_sessions,
       max(n_events) AS max_session_events
FROM per_session GROUP BY user_id
"""


def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel signup → click → purchase (functions.events):
    one scan + one shuffle on user_id; later stages resolve from
    per-user sorted timestamp arrays (earliest at-or-after previous
    stage). Oracle expresses the same semantics as chained joins."""
    from .functions.events import funnel_counts

    ev = _t(spark, sf_dir, "events")
    return funnel_counts(ev, ["signup", "click", "purchase"])


ORACLE_FUNNEL = """
WITH s AS (
  SELECT user_id, min(CASE WHEN event_type = 'signup' THEN ts END) AS t0
  FROM events GROUP BY user_id
), c AS (
  SELECT s.user_id, min(e.ts) AS t1
  FROM s JOIN events e ON e.user_id = s.user_id
   AND e.event_type = 'click' AND e.ts >= s.t0
  GROUP BY s.user_id
), p AS (
  SELECT c.user_id, min(e.ts) AS t2
  FROM c JOIN events e ON e.user_id = c.user_id
   AND e.event_type = 'purchase' AND e.ts >= c.t1
  GROUP BY c.user_id
)
SELECT (SELECT count(t0) FROM s) AS n_stage0,
       (SELECT count(*) FROM c) AS n_stage1,
       (SELECT count(*) FROM p) AS n_stage2
"""


def q_asof_last_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operators.asof_join): each click event matched to
    the SAME user's latest view at-or-before it. One shuffle on
    user_id + per-key ordered window — no inequality join, no pair
    blowup. Oracle uses DuckDB's native ASOF LEFT JOIN. (user_id, ts)
    is unique in the testdata, so ties are moot."""
    from .operators import asof_join

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click")
    views = ev.filter(F.col("event_type") == "view")
    out = asof_join(
        clicks, views, on="user_id", left_on="ts", right_on="ts",
        right_cols=["event_id", "value"],
    )
    return out.select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("event_id_r").alias("view_id"),
        F.col("value_r").alias("view_value"),
    )


ORACLE_ASOF_LAST_VIEW = """
WITH clicks AS (SELECT * FROM events WHERE event_type = 'click'),
     views  AS (SELECT * FROM events WHERE event_type = 'view')
SELECT c.event_id AS click_id, c.user_id,
       v.event_id AS view_id, v.value AS view_value
FROM clicks c ASOF LEFT JOIN views v
  ON c.user_id = v.user_id AND v.ts <= c.ts
"""


def q_range_join_error_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join (operators.range_join): click events falling inside
    a 10-minute window after any error of the same user. Bucketed
    equi-join + exact refine — the scale-safe interval join (a bare
    inequality predicate would be a broadcast-nested-loop)."""
    from .operators import range_join

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click")
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id",
        F.col("event_id").alias("error_id"),
        F.col("ts").alias("lo"),
        (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias("hi"),
    )
    pairs = range_join(
        clicks, errors, on="user_id",
        point_col="ts", lo_col="lo", hi_col="hi", bucket_width=600.0,
    )
    return pairs.select(
        F.col("p.event_id").alias("click_id"),
        F.col("i.error_id").alias("error_id"),
    )


ORACLE_RANGE_JOIN_ERROR_WINDOW = """
SELECT c.event_id AS click_id, e.event_id AS error_id
FROM events c JOIN events e
  ON c.user_id = e.user_id
 AND c.event_type = 'click' AND e.event_type = 'error'
 AND e.ts <= c.ts AND c.ts <= e.ts + INTERVAL 10 MINUTE
"""


def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality gating per source: doc counts, pass
    counts, and the underlying signals — all single-pass Column
    expressions (no Python, no second scan). Ratio/length doubles are
    single divisions of integer aggregates, so they are bit-identical
    across engines; only the per-source averages are rounded."""
    docs = _t(spark, sf_dir, "documents")
    scored = docs.select(
        "source",
        tx.gopher_quality_pass("text").alias("ok"),
        tx.mean_word_length("text").alias("mwl"),
        tx.repeated_line_ratio("text").alias("rep"),
        tx.bullet_line_ratio("text").alias("bul"),
    )
    return combine_by(
        scored,
        "source",
        count_fn().alias("n_docs"),
        count_fn(predicate=F.col("ok")).alias("n_pass"),
        F.round(mean_fn(F.col("mwl")), 6).alias("avg_word_len"),
        F.round(mean_fn(F.col("rep")), 6).alias("avg_repeated_ratio"),
        F.round(mean_fn(F.col("bul")), 6).alias("avg_bullet_ratio"),
    ).withColumnRenamed("key", "source")


ORACLE_GOPHER_QUALITY = """
WITH scored AS (
  SELECT source,
         list_filter(string_split(lower(text), ' '), t -> t <> '') AS toks,
         string_split(text, chr(10)) AS lns
  FROM documents
), sig AS (
  SELECT source,
         len(toks) AS ntok,
         CASE WHEN len(toks) = 0 THEN 0.0
              ELSE list_sum(list_transform(toks, t -> len(t))) * 1.0 / len(toks)
         END AS mwl,
         CASE WHEN len(lns) = 0 THEN 0.0
              ELSE 1.0 - len(list_distinct(lns)) * 1.0 / len(lns)
         END AS rep,
         CASE WHEN len(lns) = 0 THEN 0.0
              ELSE len(list_filter(lns, l -> starts_with(ltrim(l), '-')
                                          OR starts_with(ltrim(l), '*'))) * 1.0 / len(lns)
         END AS bul,
         CASE WHEN len(lns) = 0 THEN 0.0
              ELSE len(list_filter(lns, l -> ends_with(rtrim(l), '...'))) * 1.0 / len(lns)
         END AS ell
  FROM scored
)
SELECT source,
       count(*) AS n_docs,
       count(CASE WHEN ntok BETWEEN 10 AND 100000
                   AND mwl BETWEEN 2.0 AND 12.0
                   AND bul <= 0.9 AND ell <= 0.3 AND rep <= 0.3
             THEN 1 END) AS n_pass,
       round(avg(mwl), 6) AS avg_word_len,
       round(avg(rep), 6) AS avg_repeated_ratio,
       round(avg(bul), 6) AS avg_bullet_ratio
FROM sig GROUP BY source
"""


def q_side_input_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Side-input singleton view (core.clj:776-808) driven end-to-end:
    the global average extended price is collected as a 1-row
    ``view(..., "singleton")`` (the bounded side-input collect) and
    used as a filter threshold in a second pass. The threshold is
    rounded to 2 dp on both engines so summation-order float noise
    can't flip boundary rows."""
    from .plans import view

    li = _t(spark, sf_dir, "lineitem")
    avg_price = view(
        li.select(F.round(F.avg("l_extendedprice"), 2).alias("v")), "singleton"
    )
    return combine_by(
        li.filter(F.col("l_extendedprice") > F.lit(avg_price.value)),
        "l_returnflag",
        count_fn().alias("n_above"),
        F.round(mean_fn(F.col("l_quantity")), 6).alias("avg_qty"),
    ).withColumnRenamed("key", "l_returnflag")


ORACLE_SIDE_INPUT_FILTER = """
SELECT l_returnflag, count(*) AS n_above,
       round(avg(l_quantity), 6) AS avg_qty
FROM lineitem
WHERE l_extendedprice > (SELECT round(avg(l_extendedprice), 2) FROM lineitem)
GROUP BY l_returnflag
"""


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact dedup: an 'incoming batch' admission-filtered
    against the 'store' (doc_id < 250) by a LEFT ANTI join on md5
    digests — only 16-byte digests shuffle. The incoming batch here is
    the whole table, so it overlaps the store and the anti-join
    demonstrably removes the 250 already-stored docs (plus any true
    re-crawls)."""
    docs = _t(spark, sf_dir, "documents")
    store = docs.filter(F.col("doc_id") < 250)
    return dd.incremental_new_docs(docs, store)


ORACLE_DEDUP_INCREMENTAL = """
SELECT i.doc_id
FROM documents i
WHERE NOT EXISTS (SELECT 1 FROM documents s
                  WHERE s.doc_id < 250 AND md5(s.text) = md5(i.text))
"""


def q_dedup_cross_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus near-dup probe: incoming batch (doc_id >= 250)
    LSH-probed against the store (doc_id < 250) — candidate pairs
    BETWEEN corpora only. Both corpora partition ONE table here, so
    one banded plan self-joins with side predicates
    (`cross_corpus_pairs_partitioned`) — measured 25% faster than the
    two-frame form at sf0.1. For repeated batches against a durable
    store, pass `materialize_dir=` (write-once bucketed banded table,
    zero-Exchange probes); the write costs more than it saves for a
    one-shot local run, so the corpus query stays in-plan."""
    docs = _ts(spark, sf_dir, "documents", "doc_id")
    return dd.cross_corpus_pairs_partitioned(
        docs,
        lambda c: c < 250,
        lambda c: c >= 250,
        num_hashes=16, bands=4, k=3, seed=42,
    )


# store ids all < incoming ids, so cross pairs = self-join pairs
# restricted to doc_a in the store and doc_b in the incoming batch
ORACLE_DEDUP_CROSS_CORPUS = (
    "WITH "
    + _minhash_cte_block(16, 4, 3, 42)
    + "\nSELECT doc_a, doc_b FROM pairs WHERE doc_a < 250 AND doc_b >= 250"
)


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus TF-IDF → top-3 terms per document. Ranking happens on
    the ROUNDED score (6 dp) with a term tie-break so a last-ulp
    ``ln`` difference between JVM and DuckDB libm can never flip the
    cross-engine top-k. Per-key top-k is the rank-over-window form
    (WindowGroupLimit pushdown)."""
    docs = _t(spark, sf_dir, "documents")
    scored = tx.tf_idf(docs).withColumn("tfidf_r", F.round("tfidf", 6))
    return top_k(
        scored,
        3,
        [F.col("tfidf_r").desc(), F.col("term").asc()],
        key=F.col("doc_id"),
        key_name="doc_id",
    ).select("doc_id", "term", "tf", "dfq", F.col("tfidf_r").alias("tfidf"))


ORACLE_TFIDF_TOP_TERMS = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks WHERE term <> '' GROUP BY 1, 2
), dfreq AS (
  SELECT term, count(*) AS dfq FROM tf GROUP BY term
), n AS (
  SELECT count(*) AS n_docs FROM documents
), scored AS (
  SELECT doc_id, tf.term AS term, tf, dfq,
         round(tf * ln(n_docs * 1.0 / dfq), 6) AS tfidf
  FROM tf JOIN dfreq USING (term) CROSS JOIN n
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id
            ORDER BY tfidf DESC, term ASC) AS rk
  FROM scored
)
SELECT doc_id, term, tf, dfq, tfidf FROM ranked WHERE rk <= 3
"""


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text quality stats per lang: token counts, punct ratio."""
    docs = _t(spark, sf_dir, "documents")
    return combine_by(
        docs,
        "lang",
        count_fn().alias("n_docs"),
        F.round(mean_fn(tx.token_count("text")), 6).alias("avg_tokens"),
        F.round(mean_fn(tx.punct_ratio("text")), 6).alias("avg_punct_ratio"),
        max_fn(F.col("n_chars")).alias("max_chars"),
    ).withColumnRenamed("key", "lang")


ORACLE_TEXT_STATS = """
SELECT lang,
       count(*) AS n_docs,
       round(avg(len(string_split(lower(text), ' '))), 6) AS avg_tokens,
       round(avg(CASE WHEN len(text) > 0
                 THEN (len(text) - len(regexp_replace(text, '[!-/:-@\\[-`{-~]', '', 'g'))) * 1.0 / len(text)
                 ELSE 0 END), 6) AS avg_punct_ratio,
       max(n_chars) AS max_chars
FROM documents GROUP BY lang
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-overlap language ID → predicted-language histogram."""
    docs = _t(spark, sf_dir, "documents")
    return frequencies(docs, tx.lang_id("text"), alias="pred_lang")


def _lang_oracle() -> str:
    hits = {
        lang: f"len(list_intersect(dt, {words!r}))"
        for lang, words in tx.LANG_STOPWORDS.items()
    }
    langs = list(tx.LANG_STOPWORDS)
    greatest = "greatest(" + ", ".join(f"h_{lg}" for lg in langs) + ")"
    case = "CASE\n"
    for lg in langs:
        case += f"  WHEN h_{lg} = mx AND mx > 0 THEN '{lg}'\n"
    case += "  ELSE 'und' END"
    hit_cols = ",\n         ".join(f"{expr} AS h_{lg}" for lg, expr in hits.items())
    return f"""
WITH dtoks AS (
  SELECT doc_id, list_distinct(string_split(lower(text), ' ')) AS dt FROM documents
), scored AS (
  SELECT doc_id,
         {hit_cols}
  FROM dtoks
), mxd AS (
  SELECT *, {greatest} AS mx FROM scored
)
SELECT {case} AS pred_lang, count(*) AS count
FROM mxd GROUP BY 1
"""


ORACLE_LANG_ID = _lang_oracle()


def q_corpus_prep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data prep, the composition the extensions
    exist for: quality filter (token count + punctuation) → exact
    dedup (digest-groupBy, min-id survivor) → per-language corpus
    stats (doc count + BPE-ish token budget). One declarative plan:
    the quality filter runs inside the scan stage before any shuffle
    (expression predicates can't reach parquet PushedFilters, but
    they do cut the shuffled rows), dedup shuffles 16-byte digests,
    the final rollup is partial-aggregated — no Python anywhere, and
    unused columns (doc_id) get pruned out of the scan entirely."""
    docs = _t(spark, sf_dir, "documents")
    filtered = docs.filter(
        (tx.token_count("text") >= 5) & (tx.punct_ratio("text") < 0.2)
    )
    deduped = filtered.groupBy(F.md5("text").alias("digest")).agg(
        F.min("doc_id").alias("doc_id"),
        # text identical within a digest group → min == the value
        F.min(tx.bpe_ish_token_count("text")).alias("bpe_tokens"),
        F.min(tx.lang_id("text")).alias("lang"),
    )
    return deduped.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("bpe_tokens").alias("total_tokens"),
    )


def _corpus_prep_oracle() -> str:
    hits = {
        lang: f"len(list_intersect(dt, {words!r}))"
        for lang, words in tx.LANG_STOPWORDS.items()
    }
    langs = list(tx.LANG_STOPWORDS)
    greatest = "greatest(" + ", ".join(f"h_{lg}" for lg in langs) + ")"
    case = "CASE\n"
    for lg in langs:
        case += f"  WHEN h_{lg} = mx AND mx > 0 THEN '{lg}'\n"
    case += "  ELSE 'und' END"
    hit_cols = ",\n         ".join(f"{expr} AS h_{lg}" for lg, expr in hits.items())
    return f"""
WITH filtered AS (
  SELECT doc_id, text FROM documents
  WHERE len(string_split(lower(text), ' ')) >= 5
    AND (CASE WHEN len(text) > 0
         THEN (len(text) - len(regexp_replace(text, '[!-/:-@\\[-`{{-~]', '', 'g'))) * 1.0 / len(text)
         ELSE 0 END) < 0.2
), dedup AS (
  SELECT min(doc_id) AS doc_id,
         min(len(regexp_extract_all(text, '\\w+|[^\\w\\s]'))) AS bpe_tokens,
         min(text) AS text
  FROM filtered GROUP BY md5(text)
), dtoks AS (
  SELECT bpe_tokens, list_distinct(string_split(lower(text), ' ')) AS dt FROM dedup
), scored AS (
  SELECT bpe_tokens,
         {hit_cols}
  FROM dtoks
), mxd AS (
  SELECT *, {greatest} AS mx FROM scored
)
SELECT {case} AS lang,
       count(*) AS n_docs,
       sum(bpe_tokens)::BIGINT AS total_tokens
FROM mxd GROUP BY 1
"""


ORACLE_CORPUS_PREP = _corpus_prep_oracle()


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-of-words fingerprints: distinct count (singleton)."""
    docs = _t(spark, sf_dir, "documents")
    return combine(
        docs.select(tx.fingerprint("text").alias("fp")),
        F.countDistinct("fp").alias("n_distinct_fp"),
    )


ORACLE_FINGERPRINT = """
SELECT count(DISTINCT md5(array_to_string(
         list_sort(list_distinct(string_split(lower(text), ' '))), ' ')))
       AS n_distinct_fp
FROM documents
"""


def q_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-20 for the vec_id=0 query vector."""
    emb = _t(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qe")
    )
    scored = emb.crossJoin(F.broadcast(qvec)).select(
        "vec_id",
        F.round(sim.cosine("embedding", "qe"), 6).alias("score"),
    )
    return scored.orderBy(F.desc("score"), F.asc("vec_id")).limit(20)


ORACLE_SIMILARITY_TOPK = """
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
  flat AS (
  SELECT e.vec_id,
         unnest(e.embedding)::DOUBLE AS x,
         generate_subscripts(e.embedding, 1) AS i
  FROM embeddings e
), qflat AS (
  SELECT unnest(qe)::DOUBLE AS qx, generate_subscripts(qe, 1) AS i FROM q
), dots AS (
  SELECT f.vec_id,
         sum(f.x * qf.qx) AS dp,
         sum(f.x * f.x) AS na,
         sum(qf.qx * qf.qx) AS nb
  FROM flat f JOIN qflat qf ON f.i = qf.i
  GROUP BY f.vec_id
)
SELECT vec_id,
       round(CASE WHEN sqrt(na) * sqrt(nb) > 0
             THEN dp / (sqrt(na) * sqrt(nb)) ELSE 0 END, 6) AS score
FROM dots
ORDER BY score DESC, vec_id ASC
LIMIT 20
"""


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash signature per document (60-bit majority-vote hash)."""
    docs = _t(spark, sf_dir, "documents")
    return dd.simhash_signatures(docs)


def _simhash_oracle() -> str:
    bits = dd.SIMHASH_BITS
    return f"""
WITH dtoks AS (
  SELECT doc_id, list_distinct(string_split(lower(text), ' ')) AS dt FROM documents
), hashed AS (
  SELECT doc_id,
         list_transform(dt, s -> CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)) AS hs
  FROM dtoks
)
SELECT doc_id,
       list_sum(list_transform(range(0, {bits}),
         b -> CASE WHEN 2 * len(list_filter(hs, h -> ((h >> b) & 1) = 1)) > len(hs)
                   THEN (1::BIGINT << b) ELSE 0 END))::BIGINT AS simhash
FROM hashed
"""


ORACLE_DEDUP_SIMHASH = _simhash_oracle()


def q_fingerprint_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive rolling-hash fingerprint per document."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", dd.rolling_fingerprint("text").alias("rfp"))


ORACLE_FINGERPRINT_ROLLING = f"""
WITH toks AS (
  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
), hashed AS (
  SELECT doc_id,
         list_transform(t,
           s -> CAST('0x' || substr(md5(s), 1, 8) AS BIGINT) % 2147483648) AS hs
  FROM toks
)
SELECT doc_id,
       list_reduce(list_prepend(0::BIGINT, hs),
         (a, x) -> (a * 1000003 + x) % {dd.MERSENNE_P}) AS rfp
FROM hashed
"""


def q_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc quality scoring: composite score, BPE-ish token count,
    stopword ratio — the text-quality pipeline stage."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.round(tx.quality_score("text"), 6).alias("quality"),
        tx.bpe_ish_token_count("text").alias("bpe_tokens"),
        F.round(tx.stopword_ratio("text"), 6).alias("stop_ratio"),
    )


_EN_STOPS = ", ".join(f"'{w}'" for w in tx.LANG_STOPWORDS["en"])

ORACLE_DOC_QUALITY = f"""
WITH base AS (
  SELECT doc_id, text,
         len(text) AS n,
         string_split(lower(text), ' ') AS toks,
         CASE WHEN len(text) > 0
              THEN (len(text) - len(regexp_replace(text, '[!-/:-@\\[-`{{-~]', '', 'g'))) * 1.0 / len(text)
              ELSE 0 END AS punct_ratio
  FROM documents
), scored AS (
  SELECT doc_id, n, punct_ratio,
         len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS bpe_tokens,
         CASE WHEN len(toks) > 0
              THEN len(list_filter(toks, t -> list_contains([{_EN_STOPS}], t))) * 1.0 / len(toks)
              ELSE 0 END AS stop_ratio
  FROM base
)
SELECT doc_id,
       round((CASE WHEN n >= 50 AND n <= 20000 THEN 0.4 ELSE 0 END)
           + (CASE WHEN punct_ratio < 0.2 THEN 0.3 ELSE 0 END)
           + (CASE WHEN stop_ratio > 0.05 THEN 0.3 ELSE 0 END), 6) AS quality,
       bpe_tokens,
       round(stop_ratio, 6) AS stop_ratio
FROM scored
"""


def _get_query_vec(spark: SparkSession, sf_dir: str) -> list[float]:
    row = (
        _t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == 0)
        .select("embedding")
        .first()
    )
    return [float(x) for x in row.embedding]


def _planes_sql(planes: list[list[float]]) -> list[str]:
    return [
        "[" + ", ".join(f"{x:.1f}" for x in plane) + "]" for plane in planes
    ]


def q_similarity_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-10 via random-hyperplane LSH bucket probe (scale path:
    only the query's bucket is scored)."""
    emb = _t(spark, sf_dir, "embeddings")
    qvec = _get_query_vec(spark, sf_dir)
    out = sim.lsh_bucketed_topk(emb, qvec, k=10, bits=8, seed=42)
    return out.select("vec_id", F.round("score", 6).alias("score"))


def _ann_oracle() -> str:
    planes = sim.random_hyperplanes(64, 8, seed=42)
    bucket_terms = " + ".join(
        f"(CASE WHEN list_dot_product(e, {p}) >= 0 THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(_planes_sql(planes))
    )
    return f"""
WITH vecs AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
), bucketed AS (
  SELECT vec_id, e, {bucket_terms} AS bucket FROM vecs
), q AS (
  SELECT e AS qe, bucket AS qbucket FROM bucketed WHERE vec_id = 0
)
SELECT b.vec_id,
       round(round(CASE WHEN sqrt(list_dot_product(b.e, b.e)) * sqrt(list_dot_product(q.qe, q.qe)) > 0
             THEN list_dot_product(b.e, q.qe)
                  / (sqrt(list_dot_product(b.e, b.e)) * sqrt(list_dot_product(q.qe, q.qe)))
             ELSE 0 END, 9), 6) AS score
FROM bucketed b, q
WHERE b.bucket = q.qbucket
ORDER BY round(CASE WHEN sqrt(list_dot_product(b.e, b.e)) * sqrt(list_dot_product(q.qe, q.qe)) > 0
             THEN list_dot_product(b.e, q.qe)
                  / (sqrt(list_dot_product(b.e, b.e)) * sqrt(list_dot_product(q.qe, q.qe)))
             ELSE 0 END, 9) DESC, b.vec_id ASC
LIMIT 10
"""


ORACLE_SIMILARITY_ANN = _ann_oracle()


def q_dedup_embedding_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: LSH-bucket the vectors,
    compare only within buckets, keep cosine ≥ 0.3 (the corpus has no planted near-dups; 0.3 keeps the candidate set non-trivial). Linear bucketing +
    intra-bucket quadratic only — the 100 TB shape."""
    emb = _ts(spark, sf_dir, "embeddings", "vec_id")
    planes = sim.random_hyperplanes(64, 8, seed=7)
    bucketed = emb.select(
        "vec_id",
        F.col("embedding").alias("e"),
        sim.hyperplane_bucket("embedding", planes).alias("bucket"),
    )
    l, r = bucketed.alias("l"), bucketed.alias("r")
    pairs = (
        l.join(r, "bucket")
        .filter(F.col("l.vec_id") < F.col("r.vec_id"))
        .select(
            F.col("l.vec_id").alias("vec_a"),
            F.col("r.vec_id").alias("vec_b"),
            F.round(sim.cosine("l.e", "r.e"), 6).alias("cos"),
        )
        .filter(F.col("cos") >= 0.3)
        .distinct()
    )
    return pairs


def _emb_pairs_cte_block() -> str:
    """Shared DuckDB CTE chain for the embedding near-dup pipeline,
    ending in ``close (vec_a, vec_b, cos)`` — the cosine-thresholded
    candidate pairs. Composable like :func:`_minhash_cte_block`."""
    planes = sim.random_hyperplanes(64, 8, seed=7)
    bucket_terms = " + ".join(
        f"(CASE WHEN list_dot_product(e, {p}) >= 0 THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(_planes_sql(planes))
    )
    return f"""vecs AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
), bucketed AS (
  SELECT vec_id, e, {bucket_terms} AS bucket FROM vecs
), pairs AS (
  SELECT DISTINCT l.vec_id AS vec_a, r.vec_id AS vec_b,
         round(CASE WHEN sqrt(list_dot_product(l.e, l.e)) * sqrt(list_dot_product(r.e, r.e)) > 0
               THEN list_dot_product(l.e, r.e)
                    / (sqrt(list_dot_product(l.e, l.e)) * sqrt(list_dot_product(r.e, r.e)))
               ELSE 0 END, 6) AS cos
  FROM bucketed l JOIN bucketed r
    ON l.bucket = r.bucket AND l.vec_id < r.vec_id
), close AS (
  SELECT vec_a, vec_b, cos FROM pairs WHERE cos >= 0.3
)"""


ORACLE_DEDUP_EMBEDDING = (
    "WITH " + _emb_pairs_cte_block() + "\nSELECT vec_a, vec_b, cos FROM close"
)


def q_neighbor_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector top-3 neighbor export from the cosine-thresholded
    pair stage (similarity.neighbor_lists — WindowGroupLimit
    shape, flat warehouse-friendly output)."""
    pairs = q_dedup_embedding_pairs(spark, sf_dir)
    return sim.neighbor_lists(
        pairs, k=3, id_a="vec_a", id_b="vec_b", score="cos"
    )


ORACLE_NEIGHBOR_REPORT = (
    "WITH "
    + _emb_pairs_cte_block()
    + """
, sym AS (
  SELECT vec_a AS node, vec_b AS neighbor, cos AS score FROM close
  UNION ALL
  SELECT vec_b AS node, vec_a AS neighbor, cos AS score FROM close
), rk AS (
  SELECT node, neighbor, score,
         row_number() OVER (
           PARTITION BY node ORDER BY score DESC, neighbor ASC) AS rank
  FROM sym
)
SELECT node, rank::BIGINT AS rank, neighbor, score
FROM rk WHERE rank <= 3
"""
)


def q_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup CLUSTERING: the cosine-thresholded pair
    stage feeds the same connected-components engine as the text
    path — every vector gets a cluster id, singletons keep their own.
    Text and embedding dedup share one clustering primitive."""
    from .functions.graph import cluster_assignments, connected_components

    pairs = q_dedup_embedding_pairs(spark, sf_dir).select("vec_a", "vec_b")
    comps = connected_components(pairs, "vec_a", "vec_b")
    emb = _t(spark, sf_dir, "embeddings")
    return cluster_assignments(emb, comps, "vec_id").withColumnsRenamed(
        {"doc_id": "vec_id"}
    )


ORACLE_EMBEDDING_CLUSTERS = (
    "WITH RECURSIVE "
    + _emb_pairs_cte_block()
    + """, edges AS (
  SELECT vec_a AS a, vec_b AS b FROM close
  UNION
  SELECT vec_b, vec_a FROM close
), walk(node, lab) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.b, w.lab FROM walk w JOIN edges e ON e.a = w.node
), comp AS (
  SELECT node, min(lab) AS component FROM walk GROUP BY node
)
SELECT v.vec_id, coalesce(c.component, v.vec_id) AS cluster_id
FROM embeddings v LEFT JOIN comp c ON c.node = v.vec_id
"""
)


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): k-means-cell-driven semantic
    near-dup marking — nearest-centroid assignment (codegen'd fold),
    within-cell cosine pairs, connected components, keep-the-outlier
    survivor per group. ``cache=True``: the assigned table computes
    once and feeds both the pair join and the final labeling."""
    emb = _t(spark, sf_dir, "embeddings")
    return sim.semantic_dedup(emb, n_cells=16, eps=0.3, cache=True)


def q_similarity_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN top-10: deterministic sampled coarse quantizer
    (16 cells), nearest-cell assignment as one aggregate-fold
    expression, probe the 4 cells nearest the query."""
    emb = _t(spark, sf_dir, "embeddings")
    qvec = _get_query_vec(spark, sf_dir)
    out = sim.ivf_topk(emb, qvec, k=10, n_cells=16, nprobe=4)
    return out.select("vec_id", F.round("score", 6).alias("score"))


_IVF_COS = (
    "round(CASE WHEN sqrt(list_dot_product({a}, {a}))"
    " * sqrt(list_dot_product({b}, {b})) > 0"
    " THEN list_dot_product({a}, {b})"
    " / (sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
    " ELSE 0 END, 9)"
)

ORACLE_CONTRASTIVE_PAIRS = f"""
WITH cent AS (
  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cell,
         embedding::DOUBLE[] AS cvec
  FROM embeddings
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
  LIMIT 16
), vecs AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
), assign AS (
  SELECT vec_id, e, cell,
         row_number() OVER (
           PARTITION BY vec_id
           ORDER BY {_IVF_COS.format(a="e", b="cvec")} DESC, cell ASC
         ) AS rn
  FROM vecs, cent
), a1 AS (
  SELECT vec_id, e, cell FROM assign WHERE rn = 1
), pos AS (
  SELECT anchor, cand, pc FROM (
    SELECT l.vec_id AS anchor, r.vec_id AS cand,
           {_IVF_COS.format(a="l.e", b="r.e")} AS pc,
           row_number() OVER (
             PARTITION BY l.vec_id
             ORDER BY {_IVF_COS.format(a="l.e", b="r.e")} DESC, r.vec_id ASC
           ) AS rn
    FROM a1 l JOIN a1 r ON l.cell = r.cell AND l.vec_id <> r.vec_id
  ) WHERE rn = 1
), nk AS (
  SELECT vec_id, cell, md5('7' || CAST(vec_id AS VARCHAR)) AS h FROM a1
), m1 AS (
  SELECT vec_id AS n1, cell AS c1 FROM nk ORDER BY h, vec_id LIMIT 1
)
SELECT a.vec_id, CAST(a.cell AS INTEGER) AS cell, p.cand AS pos_id,
       round(p.pc, 6) AS pos_cos,
       CASE WHEN a.cell <> m1.c1 THEN m1.n1
            ELSE (SELECT nk.vec_id FROM nk, m1 WHERE nk.cell <> m1.c1
                  ORDER BY nk.h, nk.vec_id LIMIT 1)
       END AS neg_id
FROM a1 a LEFT JOIN pos p ON p.anchor = a.vec_id
CROSS JOIN m1
"""


ORACLE_SIMILARITY_IVF = f"""
WITH cent AS (
  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cid,
         embedding::DOUBLE[] AS cvec
  FROM embeddings
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
  LIMIT 16
), vecs AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
), q AS (
  SELECT e AS qe FROM vecs WHERE vec_id = 0
), qcells AS (
  SELECT cid FROM cent, q
  ORDER BY {_IVF_COS.format(a="qe", b="cvec")} DESC, cid ASC
  LIMIT 4
), assign AS (
  SELECT vec_id, e, cid,
         row_number() OVER (
           PARTITION BY vec_id
           ORDER BY {_IVF_COS.format(a="e", b="cvec")} DESC, cid ASC
         ) AS rn
  FROM vecs, cent
), probed AS (
  SELECT a.vec_id, a.e FROM assign a
  WHERE a.rn = 1 AND a.cid IN (SELECT cid FROM qcells)
)
SELECT p.vec_id,
       round({_IVF_COS.format(a="p.e", b="q.qe")}, 6) AS score
FROM probed p, q
ORDER BY {_IVF_COS.format(a="p.e", b="q.qe")} DESC, p.vec_id ASC
LIMIT 10
"""


# SemDeDup: same deterministic quantizer + assignment pattern as the
# IVF oracle, then within-cell thresholded pairs → recursive-CTE
# transitive closure → keep-the-outlier (min centroid-cos) per group.
ORACLE_SEMANTIC_DEDUP = f"""
WITH RECURSIVE cent AS (
  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cell,
         embedding::DOUBLE[] AS cvec
  FROM embeddings
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
  LIMIT 16
), vecs AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
), assign AS (
  SELECT vec_id, e, cell,
         {_IVF_COS.format(a="e", b="cvec")} AS ccos,
         row_number() OVER (
           PARTITION BY vec_id
           ORDER BY {_IVF_COS.format(a="e", b="cvec")} DESC, cell ASC
         ) AS rn
  FROM vecs, cent
), a1 AS (
  SELECT vec_id, e, cell, ccos FROM assign WHERE rn = 1
), close AS (
  SELECT l.vec_id AS a, r.vec_id AS b
  FROM a1 l JOIN a1 r ON l.cell = r.cell AND l.vec_id < r.vec_id
  WHERE {_IVF_COS.format(a="l.e", b="r.e")} >= 0.3
), edges AS (
  SELECT a, b FROM close UNION SELECT b, a FROM close
), walk(node, lab) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.b, w.lab FROM walk w JOIN edges e ON e.a = w.node
), comp AS (
  SELECT node, min(lab) AS component FROM walk GROUP BY node
), lab AS (
  SELECT v.vec_id, v.cell, coalesce(c.component, v.vec_id) AS component,
         v.ccos
  FROM a1 v LEFT JOIN comp c ON c.node = v.vec_id
), rk AS (
  SELECT *, row_number() OVER (
    PARTITION BY component ORDER BY ccos ASC, vec_id ASC) AS rn
  FROM lab
)
SELECT vec_id, CAST(cell AS INTEGER) AS cell, component,
       round(ccos, 6) AS centroid_cos,
       CAST(CASE WHEN rn = 1 THEN 1 ELSE 0 END AS INTEGER) AS keep
FROM rk
"""


def q_ngram_jaccard_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate verification: exact n-gram Jaccard over the MinHash
    candidate pairs (the two-stage near-dup pipeline: cheap LSH recall
    → exact verify on the small candidate set).

    Broadcast direction matters at 100 TB: the CANDIDATE side (LSH
    survivors) is the small side and is the one hinted; the documents
    table streams. Round 1 had this backwards (broadcast the corpus —
    a driver OOM at scale); a plan test now pins the direction. The
    banded table is persisted (``cache=True``) so stage 1 runs once."""
    docs = _ts(spark, sf_dir, "documents", "doc_id").select("doc_id", "text")
    cands = dd.lsh_candidate_pairs(
        docs, num_hashes=16, bands=4, k=3, seed=42, cache=True,
    )
    a = docs.select(F.col("doc_id").alias("doc_a"), F.col("text").alias("ta"))
    b = docs.select(F.col("doc_id").alias("doc_b"), F.col("text").alias("tb"))
    enriched = a.join(F.broadcast(cands), "doc_a")  # docs stream, cands build
    return (
        b.join(F.broadcast(enriched), "doc_b")  # still candidate-scale build
        .select(
            "doc_a",
            "doc_b",
            F.round(dd.ngram_jaccard(F.col("ta"), F.col("tb"), k=3), 6).alias(
                "jaccard"
            ),
        )
    )


ORACLE_NGRAM_JACCARD = f"""
WITH cand AS ({_minhash_oracle_sql(16, 4, 3, 42)}),
  sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(string_split(lower(text), ' ')) - 3 + 1, 1) + 1),
           i -> array_to_string((string_split(lower(text), ' '))[i:i+2], ' '))) AS s
  FROM documents
)
SELECT c.doc_a, c.doc_b,
       round(CASE WHEN len(list_distinct(a.s || b.s)) > 0
             THEN len(list_intersect(a.s, b.s)) * 1.0 / len(list_distinct(a.s || b.s))
             ELSE 0 END, 6) AS jaccard
FROM cand c
JOIN sh a ON a.doc_id = c.doc_a
JOIN sh b ON b.doc_id = c.doc_b
"""


def q_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """flatten (Flatten.iterables): group linenumbers to arrays, then
    explode back — per-order (orderkey, linenumber) pairs survive."""
    from .operators import dflatten

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("key"), F.col("l_linenumber").alias("value")
    )
    grouped = group_by_key(li)
    flat = dflatten(grouped, "values", alias="linenumber", keep_cols=["key"])
    return flat.select(F.col("key").alias("orderkey"), "linenumber")


ORACLE_FLATTEN = """
SELECT l_orderkey AS orderkey, l_linenumber AS linenumber FROM lineitem
"""


def q_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:fanout hot-key salting for a holistic agg (collect_list):
    two-level salt-and-merge must equal the direct group-by."""
    from .operators import salted_agg

    li = _t(spark, sf_dir, "lineitem")
    out = salted_agg(
        li,
        "l_returnflag",
        [
            (
                F.collect_list("l_quantity").alias("p0"),
                lambda c: F.flatten(F.collect_list(F.col(c))).alias("qtys"),
            )
        ],
        salt_buckets=8,
    )
    return out.select(
        F.col("key").alias("l_returnflag"),
        F.size("qtys").alias("n"),
        F.round(
            F.aggregate("qtys", F.lit(0.0), lambda a, x: a + x), 2
        ).alias("sum_qty"),
    )


ORACLE_SALTED_AGG = """
SELECT l_returnflag, count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
FROM lineitem GROUP BY l_returnflag
"""


def q_stateful_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Associative batch state via the NATIVE path (running_agg):
    running per-user event-value sum in event-time order, executed as
    a JVM window aggregate — one shuffle on the key, no per-key pandas
    materialization, no Arrow traffic. (Round 1 ran this through the
    Python ``batch_stateful`` escape hatch — 3.8 s of Arrow for a
    window function; the generic hatch remains, exercised by
    ``stateful_distinct_types`` where the state genuinely isn't an
    aggregate.) A plan test pins the absence of
    FlatMapGroupsInPandas."""
    from .streaming import running_agg

    ev = _t(spark, sf_dir, "events").select("user_id", "event_id", "value")
    out = running_agg(ev, ["user_id"], "event_id", running_sum=F.sum("value"))
    return out.select(
        "user_id", "event_id", F.round("running_sum", 2).alias("running_sum")
    )


ORACLE_STATEFUL_RUNNING_SUM = """
SELECT user_id, event_id,
       round(sum(value) OVER (PARTITION BY user_id ORDER BY event_id
             ROWS UNBOUNDED PRECEDING), 2) AS running_sum
FROM events
"""


def q_stateful_distinct_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Genuinely NON-associative per-key state via ``batch_stateful``:
    the number of distinct event types each user has seen so far, in
    event order. The state is a growing set — not expressible as a
    Spark window aggregate (no DISTINCT in window functions), so the
    pandas state machine is the honest tool; DuckDB CAN window it,
    which gives the oracle."""
    from .streaming import batch_stateful

    ev = _t(spark, sf_dir, "events").select("user_id", "event_id", "event_type")

    def distinct_so_far(key, rows):
        seen: set = set()
        for r in rows:
            seen.add(r["event_type"])
            yield {
                "user_id": r["user_id"],
                "event_id": r["event_id"],
                "n_types_seen": len(seen),
            }

    return batch_stateful(
        ev,
        ["user_id"],
        "event_id",
        distinct_so_far,
        "user_id bigint, event_id bigint, n_types_seen bigint",
    )


ORACLE_STATEFUL_DISTINCT_TYPES = """
SELECT user_id, event_id,
       count(DISTINCT event_type) OVER (PARTITION BY user_id
             ORDER BY event_id ROWS UNBOUNDED PRECEDING) AS n_types_seen
FROM events
"""


def q_objectmode_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Layer-1 object mode end-to-end: documents → dict rows → mapcat
    tokenize → 4-phase combiner → typed DataFrame exit. Cross-checks
    the pickled-value path against plain SQL."""
    from .objectmode import CombineFn, PCollection

    docs = _t(spark, sf_dir, "documents").select("text")
    pc = PCollection.from_dataframe(docs)
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
    return counts.to_dataframe(spark, "token string, n bigint").filter(
        F.col("n") > 5
    )


ORACLE_OBJECTMODE_WORDCOUNT = """
SELECT token, count(*) AS n
FROM (SELECT unnest(string_split(lower(text), ' ')) AS token FROM documents)
GROUP BY token HAVING count(*) > 5
"""


def q_objectmode_side_outputs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Layer-1 side-output routing end-to-end (reference
    core.clj:302-360 MultiResult): tokens route to 'long'/'short'
    tags in ONE pass (persisted tagged frame, filtered views); the
    gate checks the long-side counts. The untagged main output and
    nesting are pinned in test_objectmode; this drives the routing
    through the oracle."""
    from .objectmode import PCollection, side_outputs as so

    docs = _t(spark, sf_dir, "documents").select("text")
    pc = PCollection.from_dataframe(docs)

    def route(tok):
        return so("long", tok, "short", tok) if len(tok) >= 6 else so("short", tok)

    outs = pc.mapcat(lambda d: d["text"].lower().split(" ")).mapcat(
        lambda t: (route(t),), side_outputs=["long", "short"]
    )
    counts = (
        outs["long"]
        .map(lambda t: (t, 1))
        .combine_by(lambda kv: kv[0], _sum_combiner())
        .map(lambda kv: {"token": kv[0], "n": kv[1]})
    )
    return counts.to_dataframe(spark, "token string, n bigint").filter(
        F.col("n") > 3
    )


ORACLE_OBJECTMODE_SIDE_OUTPUTS = """
SELECT token, count(*) AS n
FROM (SELECT unnest(string_split(lower(text), ' ')) AS token FROM documents)
WHERE len(token) >= 6
GROUP BY token HAVING count(*) > 3
"""


def q_objectmode_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Layer-1 object-mode JOIN path end-to-end: nation/region as
    dict pcolls → join_by (required both sides, dict-merge collector)
    → per-region nation count. The slow path by construction (pickled
    values, Python cogroup) — the Layer-0 twin is join_multiway."""
    from .objectmode import PCollection, join_by

    nation = PCollection.from_dataframe(
        _t(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey"),
        rebalance=False,  # 25-row dim: a rebalance shuffle costs more than it buys
    )
    region = PCollection.from_dataframe(
        _t(spark, sf_dir, "region").select("r_regionkey", "r_name"),
        rebalance=False,
    )
    joined = join_by(
        [
            (nation, lambda r: r["n_regionkey"], True),
            (region, lambda r: r["r_regionkey"], True),
        ]
    )
    counts = joined.map(lambda r: (r["r_name"], 1)).combine_by(
        lambda kv: kv[0], _sum_combiner()
    )
    return counts.map(lambda kv: {"r_name": kv[0], "n_nations": kv[1]}).to_dataframe(
        spark, "r_name string, n_nations bigint"
    )


def _sum_combiner():
    from .objectmode import CombineFn

    return CombineFn(
        initf=lambda: 0,
        reducef=lambda acc, kv: acc + kv[1],
        combinef=lambda a, b: a + b,
    )


ORACLE_OBJECTMODE_JOIN = """
SELECT r_name, count(*) AS n_nations
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: eval set = every 10th doc (a stand-in
    benchmark); per-training-doc count of distinct 3-grams shared with
    it. Digest-join shape: 16-byte md5 digests through the shuffle,
    eval side distinct + AQE-broadcast, one partial-agg count."""
    docs = _ts(spark, sf_dir, "documents", "doc_id")
    ev = docs.filter(F.col("doc_id") % 10 == 0)
    train = docs.filter(F.col("doc_id") % 10 != 0)
    return dd.contamination_hits(train, ev, k=3)


ORACLE_DECONTAMINATE = """
WITH toks AS (
  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
), grams AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
           range(1, greatest(len(t) - 2, 1) + 1),
           i -> array_to_string(t[i:i+2], ' ')))) AS gram
  FROM toks
), ev AS (
  SELECT DISTINCT gram FROM grams WHERE doc_id % 10 = 0
)
SELECT g.doc_id, count(*) AS n_shared
FROM grams g JOIN ev USING (gram)
WHERE g.doc_id % 10 <> 0
GROUP BY g.doc_id
"""


def q_remove_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact repeated-span REMOVAL (Lee et al. ExactSubstr, token-
    window approximation): cut every 8-token window occurring ≥2
    times corpus-wide from the documents — the trim-don't-drop
    curation step. Digest-keyed shuffles only; the rebuild is a pure
    per-row nested higher-order-function expression."""
    docs = _t(spark, sf_dir, "documents")
    return dd.remove_repeated_spans(docs, k=8, min_count=2)


ORACLE_REMOVE_REPEATED_SPANS = """
WITH toks AS (
  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
), wins AS (
  SELECT doc_id,
         unnest(range(1, greatest(len(t) - 7, 1) + 1)) AS start,
         unnest(list_transform(range(1, greatest(len(t) - 7, 1) + 1),
                i -> md5(array_to_string(t[i:i+7], ' ')))) AS w
  FROM toks
), dup AS (
  SELECT w FROM wins GROUP BY w HAVING count(*) >= 2
), ds AS (
  SELECT doc_id, list_sort(list(start)) AS starts
  FROM wins JOIN dup USING (w) GROUP BY doc_id
), j AS (
  SELECT t.doc_id, t.t, coalesce(d.starts, []) AS starts
  FROM toks t LEFT JOIN ds d USING (doc_id)
), built AS (
  SELECT doc_id, t,
         list_filter(list_transform(range(1, len(t) + 1),
           j -> CASE WHEN len(list_filter(starts,
                       s -> s <= j AND j < s + 8)) > 0
                THEN NULL ELSE t[j] END),
           x -> x IS NOT NULL) AS kept
  FROM j
)
SELECT doc_id,
       coalesce(array_to_string(kept, ' '), '') AS text_clean,
       len(t)::BIGINT AS n_tokens,
       (len(t) - len(kept))::BIGINT AS n_removed
FROM built
"""


def q_remove_spans_keep_first(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ExactSubstr with a SURVIVOR (round 10; gated since CORRECTNESS_r10): like
    remove_repeated_spans, but the corpus-canonical occurrence of
    each duplicated 8-token window — lexicographically first
    ``(doc_id, start)`` — keeps its tokens; only the other copies
    trim. The Lee-et-al. semantics where one copy of every
    duplicated span survives training. Canonical election is a
    ``min(struct)`` inside the existing digest aggregate — same
    shuffle count as the remove-all form."""
    docs = _t(spark, sf_dir, "documents")
    return dd.remove_repeated_spans(
        docs, k=8, min_count=2, keep_first=True
    )


ORACLE_REMOVE_SPANS_KEEP_FIRST = """
WITH toks AS (
  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
), wins AS (
  SELECT doc_id,
         unnest(range(1, greatest(len(t) - 7, 1) + 1)) AS start,
         unnest(list_transform(range(1, greatest(len(t) - 7, 1) + 1),
                i -> md5(array_to_string(t[i:i+7], ' ')))) AS w
  FROM toks
), dup AS (
  SELECT w, min(doc_id) AS d0 FROM wins
  GROUP BY w HAVING count(*) >= 2
), firsts AS (
  SELECT wins.w, dup.d0, min(wins.start) AS s0
  FROM wins JOIN dup ON wins.w = dup.w AND wins.doc_id = dup.d0
  GROUP BY wins.w, dup.d0
), ds AS (
  SELECT wins.doc_id, list_sort(list(wins.start)) AS starts
  FROM wins JOIN firsts f USING (w)
  WHERE NOT (wins.doc_id = f.d0 AND wins.start = f.s0)
  GROUP BY wins.doc_id
), j AS (
  SELECT t.doc_id, t.t, coalesce(d.starts, []) AS starts
  FROM toks t LEFT JOIN ds d USING (doc_id)
), built AS (
  SELECT doc_id, t,
         list_filter(list_transform(range(1, len(t) + 1),
           j -> CASE WHEN len(list_filter(starts,
                       s -> s <= j AND j < s + 8)) > 0
                THEN NULL ELSE t[j] END),
           x -> x IS NOT NULL) AS kept
  FROM j
)
SELECT doc_id,
       coalesce(array_to_string(kept, ' '), '') AS text_clean,
       len(t)::BIGINT AS n_tokens,
       (len(t) - len(kept))::BIGINT AS n_removed
FROM built
"""


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-split sequence packing: each doc's token interval in
    its source's stream + the pack (seq_len=512) holding its first
    token. One window cumsum per source — all-integer, hash-exact."""
    docs = _t(spark, sf_dir, "documents")
    return tx.pack_sequences(docs, 512)


ORACLE_PACK_SEQUENCES = """
WITH d AS (
  SELECT doc_id, source AS part,
         len(string_split(lower(text), ' '))::BIGINT AS n_tok
  FROM documents
), c AS (
  SELECT doc_id, part, n_tok,
         (sum(n_tok) OVER (PARTITION BY part ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          - n_tok)::BIGINT AS start_tok
  FROM d
)
SELECT doc_id, part, n_tok, start_tok,
       (start_tok // 512)::BIGINT AS pack_id,
       (start_tok % 512)::BIGINT AS pack_offset
FROM c
"""


def q_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus mixing under per-source token budgets: deterministic
    md5-ordered prefix per stratum until the budget is spent. Gate
    output = the admitted subset itself (full equality)."""
    from .operators import token_budget_sample

    docs = _t(spark, sf_dir, "documents").withColumn(
        "n_tok", tx.token_count("text").cast("long")
    )
    out = token_budget_sample(
        docs,
        "source",
        {"src1": 700, "src2": 400, "src3": 1000},
        "n_tok",
        seed=7,
    )
    return out.select("doc_id", "source", "n_tok")


ORACLE_TOKEN_BUDGET_MIX = """
WITH d AS (
  SELECT doc_id, source,
         len(string_split(lower(text), ' '))::BIGINT AS n_tok
  FROM documents WHERE source IN ('src1', 'src2', 'src3')
), c AS (
  SELECT doc_id, source, n_tok,
         (sum(n_tok) OVER (PARTITION BY source
              ORDER BY md5('7' || doc_id::VARCHAR)
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS cum
  FROM d
)
SELECT doc_id, source, n_tok FROM c
WHERE cum <= CASE source WHEN 'src1' THEN 700
                         WHEN 'src2' THEN 400
                         WHEN 'src3' THEN 1000 END
"""


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: synthesize deterministic PII spans (email, IPv4,
    phone) onto each doc, then count + redact. Both engines build the
    identical string and apply the identical RE2-safe patterns, so
    counts and the redacted-text md5 are bit-exact."""
    docs = _t(spark, sf_dir, "documents")
    synth = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com ip 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".7 tel 555-"),
        F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
        F.lit("-1234"),
    )
    counts = tx.pii_counts(synth)
    return docs.select(
        "doc_id",
        counts["email"].alias("n_email"),
        counts["ipv4"].alias("n_ipv4"),
        counts["phone"].alias("n_phone"),
        F.md5(tx.redact_pii(synth)).alias("redacted_md5"),
    )


ORACLE_PII_REDACT = """
WITH s AS (
  SELECT doc_id,
         text || ' contact user' || doc_id::VARCHAR
              || '@mail.example.com ip 10.0.' || (doc_id % 256)::VARCHAR
              || '.7 tel 555-' || lpad((doc_id % 1000)::VARCHAR, 3, '0')
              || '-1234' AS t
  FROM documents
)
SELECT doc_id,
       len(regexp_extract_all(t,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))::BIGINT AS n_email,
       len(regexp_extract_all(t,
           '[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}'))::BIGINT AS n_ipv4,
       len(regexp_extract_all(t,
           '\\+?[0-9]{3}[- .][0-9]{3}[- .][0-9]{4}'))::BIGINT AS n_phone,
       md5(regexp_replace(regexp_replace(regexp_replace(t,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '[PII]', 'g'),
            '[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}', '[PII]', 'g'),
            '\\+?[0-9]{3}[- .][0-9]{3}[- .][0-9]{4}', '[PII]', 'g')) AS redacted_md5
FROM s
"""


def q_dedup_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-doc line dedup (boilerplate removal): synthesize a doc
    with repeated lines (text/lang twice + a tail), keep first
    occurrences, verify line counts + rededuped-text md5."""
    docs = _t(spark, sf_dir, "documents")
    synth = F.concat_ws(
        "\n",
        F.col("text"),
        F.col("lang"),
        F.col("text"),
        F.col("lang"),
        F.lit("tail"),
    )
    out_text = tx.dedup_lines(synth)
    return docs.select(
        "doc_id",
        F.size(tx.doc_lines(synth)).cast("long").alias("n_lines_in"),
        F.size(tx.doc_lines(out_text)).cast("long").alias("n_lines_out"),
        F.md5(out_text).alias("dedup_md5"),
    )


ORACLE_DEDUP_LINES = """
WITH s AS (
  SELECT doc_id,
         text || chr(10) || lang || chr(10) || text || chr(10) || lang
              || chr(10) || 'tail' AS t
  FROM documents
), l AS (
  SELECT doc_id, string_split(t, chr(10)) AS ln FROM s
), d AS (
  SELECT doc_id, len(ln)::BIGINT AS n_lines_in,
         list_filter(ln, (x, i) -> list_position(ln, x) = i) AS kept
  FROM l
)
SELECT doc_id, n_lines_in, len(kept)::BIGINT AS n_lines_out,
       md5(array_to_string(kept, chr(10))) AS dedup_md5
FROM d
"""


def q_boilerplate_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-frequency boilerplate line removal (CCNet/C4 pass):
    synthesize multi-line docs (text + a per-lang line + a promo
    line on every third doc + a trailing empty line), drop every
    line that occurs in >= 5 distinct docs. The lang and promo
    lines must vanish, unique lines and the structural empty line
    must survive."""
    docs = _t(spark, sf_dir, "documents")
    synth = docs.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.col("text"),
            F.concat(F.lit("lang: "), F.col("lang")),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.lit("subscribe to our newsletter"),
            ).otherwise(
                F.concat(F.lit("unique-"), F.col("doc_id").cast("string"))
            ),
            F.lit(""),
        ).alias("text"),
    )
    return dd.remove_boilerplate_lines(synth, min_docs=5)


ORACLE_BOILERPLATE_REMOVAL = """
WITH s AS (
  SELECT doc_id,
         text || chr(10) || 'lang: ' || lang || chr(10) ||
         CASE WHEN doc_id % 3 = 0 THEN 'subscribe to our newsletter'
              ELSE 'unique-' || doc_id END || chr(10) AS t
  FROM documents
), l AS (
  SELECT doc_id, string_split(t, chr(10)) AS ln FROM s
), o AS (
  SELECT doc_id,
         unnest(list_distinct(list_filter(ln, x -> x <> ''))) AS line
  FROM l
), b AS (
  SELECT line FROM o GROUP BY line HAVING count(*) >= 5
), ba AS (
  SELECT coalesce(list(line), []::VARCHAR[]) AS bad FROM b
), k AS (
  SELECT doc_id, ln,
         list_filter(ln, x -> x = '' OR NOT list_contains(ba.bad, x))
           AS kept
  FROM l CROSS JOIN ba
)
SELECT doc_id,
       array_to_string(kept, chr(10)) AS clean_text,
       len(ln)::BIGINT AS n_lines_in,
       len(kept)::BIGINT AS n_lines_out
FROM k
"""


def q_repeated_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact repeated-substring profile (Lee et al. window dedup):
    per-doc count of 8-token windows that occur >1 time corpus-wide.
    Windows hash to md5 digests before any shuffle; the duplicated
    set is filtered to the >1 survivors before the join back."""
    docs = _ts(spark, sf_dir, "documents", "doc_id")
    return dd.repetition_stats(docs, k=8)


ORACLE_REPEATED_NGRAMS = """
WITH toks AS (
  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
), wins AS (
  SELECT doc_id,
         unnest(list_transform(range(1, greatest(len(t) - 7, 1) + 1),
                i -> md5(array_to_string(t[i:i+7], ' ')))) AS w
  FROM toks
), cnt AS (
  SELECT w, count(*) AS c FROM wins GROUP BY w
)
SELECT doc_id, count(*)::BIGINT AS n_windows,
       count(CASE WHEN c > 1 THEN 1 END)::BIGINT AS n_dup_windows
FROM wins JOIN cnt USING (w)
GROUP BY doc_id
"""


def q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character-entropy quality signal — shuffle-free
    (one Column expression per row; the explode→groupBy alternative
    shuffles corpus-size × avg-len rows). Fixed-point nano-nat terms
    keep the sum order-independent for the cross-engine hash."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", tx.char_entropy("text").alias("h_bits"))


ORACLE_CHAR_ENTROPY = """
WITH ch AS (
  SELECT doc_id,
         unnest(list_transform(range(1, length(text) + 1),
                i -> text[i:i])) AS c
  FROM documents
), cnt AS (
  SELECT doc_id, c, count(*) AS n FROM ch GROUP BY doc_id, c
), agg AS (
  SELECT doc_id,
         sum(CAST(round(n * ln(n) * 1e9) AS BIGINT)) AS s_nano,
         sum(n) AS n
  FROM cnt GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(round((ln(a.n) - a.s_nano / 1e9 / a.n) / ln(2), 6), 0.0)
         AS h_bits
FROM documents d LEFT JOIN agg a USING (doc_id)
"""


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering: fastText-style linear scoring
    over hashed token features (hashing trick, 512 buckets). The
    weight table is model-sized and broadcast; tokens reduce to
    (doc_id, bucket) before the join; integer weight accumulation."""
    docs = _ts(spark, sf_dir, "documents", "doc_id")
    w = tx.hash_bucket_weights(spark, 512)
    return tx.linear_doc_scores(docs, w, n_buckets=512)


ORACLE_QUALITY_CLASSIFIER = """
WITH w AS (
  SELECT id AS bucket, CAST((id * 37 + 11) % 21 - 10 AS BIGINT) AS weight
  FROM range(512) t(id)
), t AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
  FROM documents
), b AS (
  SELECT doc_id,
         CAST('0x' || substr(md5(term), 1, 8) AS BIGINT) % 512 AS bucket
  FROM t WHERE term <> ''
)
SELECT doc_id, count(*) AS n_toks,
       round(sum(weight) * 1.0 / count(*), 6) AS logit
FROM b JOIN w USING (bucket)
GROUP BY doc_id
"""


def q_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quota cap (the web-corpus domain-cap op): at most 10
    docs per source, chosen by deterministic md5(seed‖id) order —
    reproducible across engines and stable as the corpus grows."""
    from .operators import quota_per_key

    docs = _t(spark, sf_dir, "documents")
    return quota_per_key(docs, "source", 10, "doc_id", seed=7).select(
        "doc_id", "source"
    )


ORACLE_QUOTA_SAMPLE = """
WITH r AS (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source
                            ORDER BY md5('7' || doc_id::VARCHAR)) AS rk
  FROM documents
)
SELECT doc_id, source FROM r WHERE rk <= 10
"""


def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source 3-gram overlap matrix — the are-these-crawls-the-
    same-data diagnostic run before mixing corpus sources. Distinct
    digests per source first (corpus collapses to vocab-sized sets);
    the self-join touches only the distinct table."""
    docs = _ts(spark, sf_dir, "documents", "doc_id")
    return dd.source_overlap(docs, k=3)


ORACLE_SOURCE_OVERLAP = """
WITH toks AS (
  SELECT source, string_split(lower(text), ' ') AS t FROM documents
), grams AS (
  SELECT source, unnest(list_distinct(list_transform(
           range(1, greatest(len(t) - 2, 1) + 1),
           i -> array_to_string(t[i:i+2], ' ')))) AS gram
  FROM toks
), d AS (
  SELECT DISTINCT source, md5(gram) AS digest FROM grams
)
SELECT a.source AS source_a, b.source AS source_b,
       count(*) AS n_shared
FROM d a JOIN d b USING (digest)
WHERE a.source < b.source
GROUP BY 1, 2
"""


def q_knn_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch k-NN join (retrieval-eval shape): every 100th vector is a
    query; exact cosine top-5 corpus neighbors per query. Query set
    broadcast (model/eval-sized); corpus streams once; per-query
    top-k runs as a WindowGroupLimit rank."""
    emb = _ts(spark, sf_dir, "embeddings", "vec_id")
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return sim.knn_join(emb, queries, k=5)


ORACLE_KNN_SEARCH = """
WITH flat AS (
  SELECT e.vec_id, unnest(e.embedding)::DOUBLE AS x,
         generate_subscripts(e.embedding, 1) AS i
  FROM embeddings e
), qflat AS (
  SELECT vec_id AS query_id, x AS qx, i FROM flat WHERE vec_id % 100 = 0
), dots AS (
  SELECT qf.query_id, f.vec_id,
         sum(f.x * qf.qx) AS dp,
         sum(f.x * f.x) AS na,
         sum(qf.qx * qf.qx) AS nb
  FROM flat f JOIN qflat qf ON f.i = qf.i
  GROUP BY qf.query_id, f.vec_id
), scored AS (
  SELECT query_id, vec_id,
         round(CASE WHEN sqrt(na) * sqrt(nb) > 0
               THEN dp / (sqrt(na) * sqrt(nb)) ELSE 0 END, 6) AS score
  FROM dots
), rk AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY score DESC, vec_id ASC) AS r
  FROM scored
)
SELECT query_id, vec_id, score FROM rk WHERE r <= 5
"""


def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality eval: recall@10 of the IVF-pruned batch retrieval
    (:func:`sim.ivf_knn_join`, 16 cells / 4 probes) against the exact
    :func:`sim.knn_join` ground truth, per query (every 50th vector).
    The eval harness every ANN deployment needs before trading recall
    for the pruned scan; both sides share the broadcast-query /
    stream-corpus shape, so the eval itself runs at corpus scale."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = sim.knn_join(emb, queries, k=10).select("query_id", "vec_id")
    approx = sim.ivf_knn_join(
        emb, queries, k=10, n_cells=16, nprobe=4
    ).select("query_id", "vec_id")
    hits = (
        exact.join(approx, ["query_id", "vec_id"])
        .groupBy("query_id")
        .agg(F.count("*").alias("_hits"))
    )
    return queries.select("query_id").join(hits, "query_id", "left").select(
        "query_id",
        (F.coalesce(F.col("_hits"), F.lit(0)) / 10.0).alias("recall_at_10"),
    )


_ANN_COS9 = _IVF_COS  # probe-cell ranking quantization (9 dp)

ORACLE_ANN_RECALL = f"""
WITH cent AS (
  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cell,
         embedding::DOUBLE[] AS cvec
  FROM embeddings
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
  LIMIT 16
), vecs AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
), q AS (
  SELECT vec_id AS query_id, e AS qe FROM vecs WHERE vec_id % 50 = 0
), ex AS (
  SELECT query_id, vec_id FROM (
    SELECT q.query_id, v.vec_id,
           row_number() OVER (PARTITION BY q.query_id ORDER BY
             round(CASE WHEN sqrt(list_dot_product(v.e, v.e)) * sqrt(list_dot_product(q.qe, q.qe)) > 0
                   THEN list_dot_product(v.e, q.qe)
                        / (sqrt(list_dot_product(v.e, v.e)) * sqrt(list_dot_product(q.qe, q.qe)))
                   ELSE 0 END, 6) DESC, v.vec_id ASC) AS rn
    FROM vecs v CROSS JOIN q
  ) WHERE rn <= 10
), assign AS (
  SELECT vec_id, e, cell,
         row_number() OVER (
           PARTITION BY vec_id
           ORDER BY {_ANN_COS9.format(a="e", b="cvec")} DESC, cell ASC
         ) AS rn
  FROM vecs, cent
), a1 AS (
  SELECT vec_id, e, cell FROM assign WHERE rn = 1
), qprobe AS (
  SELECT query_id, cell FROM (
    SELECT q.query_id, c.cell,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY {_ANN_COS9.format(a="qe", b="cvec")} DESC, c.cell ASC
           ) AS rn
    FROM q CROSS JOIN cent c
  ) WHERE rn <= 4
), ap AS (
  SELECT query_id, vec_id FROM (
    SELECT p.query_id, a.vec_id,
           row_number() OVER (PARTITION BY p.query_id ORDER BY
             round(CASE WHEN sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(q.qe, q.qe)) > 0
                   THEN list_dot_product(a.e, q.qe)
                        / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(q.qe, q.qe)))
                   ELSE 0 END, 6) DESC, a.vec_id ASC) AS rn
    FROM qprobe p
    JOIN a1 a ON a.cell = p.cell
    JOIN q ON q.query_id = p.query_id
  ) WHERE rn <= 10
), hit AS (
  SELECT e.query_id, count(*) AS hits
  FROM ex e JOIN ap ON ap.query_id = e.query_id AND ap.vec_id = e.vec_id
  GROUP BY e.query_id
)
SELECT q.query_id, coalesce(h.hits, 0) / 10.0 AS recall_at_10
FROM q LEFT JOIN hit h ON h.query_id = q.query_id
"""


def q_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-versioning ledger: diff two simulated corpus snapshots
    (old = ids not divisible by 11; new = ids not divisible by 13,
    with every 17th document's text revised) into added / removed /
    changed rows. Both sides reduce to (id, digest) before the
    full-outer join — text never shuffles."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    old = docs.filter(F.col("doc_id") % 11 != 0)
    new = docs.filter(F.col("doc_id") % 13 != 0).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 17 == 0,
            F.concat(F.col("text"), F.lit(" [rev2]")),
        ).otherwise(F.col("text")),
    )
    return dd.corpus_diff(old, new)


ORACLE_CORPUS_DIFF = """
WITH o AS (
  SELECT doc_id, md5(text) AS od FROM documents WHERE doc_id % 11 <> 0
), n AS (
  SELECT doc_id,
         md5(CASE WHEN doc_id % 17 = 0 THEN text || ' [rev2]'
             ELSE text END) AS nd
  FROM documents WHERE doc_id % 13 <> 0
)
SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
       CASE WHEN o.doc_id IS NULL THEN 'added'
            WHEN n.doc_id IS NULL THEN 'removed'
            WHEN od IS DISTINCT FROM nd THEN 'changed' END AS status
FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
WHERE o.doc_id IS NULL OR n.doc_id IS NULL OR od IS DISTINCT FROM nd
"""


def _audit_filters() -> dict:
    """Named pass-predicates for the curation audit queries (the
    quality_score components plus a token floor)."""
    t = F.col("text")
    return {
        "len_range": (F.length(t) >= 50) & (F.length(t) <= 20000),
        "min_tokens": tx.token_count(t) >= 10,
        "punct": tx.punct_ratio(t) < 0.2,
        "stopwords": tx.stopword_ratio(t) > 0.05,
    }


def q_filter_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document curation audit: which named quality filters each
    document fails (sorted, ';'-joined for the scalar gate) and
    whether it passes all — the quarantine ledger behind every
    drop. Pure per-row expressions, no shuffle."""
    docs = _t(spark, sf_dir, "documents")
    rep = tx.filter_report(docs, _audit_filters())
    return rep.select(
        "doc_id",
        F.concat_ws(";", "failed").alias("failed"),
        "passed",
    )


_AUDIT_ORACLE_BASE = f"""base AS (
  SELECT doc_id, len(text) AS n,
         string_split(lower(text), ' ') AS toks,
         CASE WHEN len(text) > 0
              THEN (len(text) - len(regexp_replace(text, '[!-/:-@\\[-`{{-~]', '', 'g'))) * 1.0 / len(text)
              ELSE 0 END AS pr
  FROM documents
), f AS (
  SELECT doc_id, n, pr, len(toks) AS tc,
         CASE WHEN len(toks) > 0
              THEN len(list_filter(toks, t -> list_contains([{_EN_STOPS}], t))) * 1.0 / len(toks)
              ELSE 0 END AS sr
  FROM base
), flags AS (
  SELECT doc_id,
         CASE WHEN NOT coalesce(n >= 50 AND n <= 20000, FALSE) THEN 1 ELSE 0 END AS x_len,
         CASE WHEN NOT coalesce(tc >= 10, FALSE) THEN 1 ELSE 0 END AS x_tok,
         CASE WHEN NOT coalesce(pr < 0.2, FALSE) THEN 1 ELSE 0 END AS x_punct,
         CASE WHEN NOT coalesce(sr > 0.05, FALSE) THEN 1 ELSE 0 END AS x_stop
  FROM f
)"""


ORACLE_FILTER_REPORT = f"""
WITH {_AUDIT_ORACLE_BASE}, r AS (
  SELECT doc_id,
         list_sort(list_filter([
           CASE WHEN x_len = 1 THEN 'len_range' END,
           CASE WHEN x_tok = 1 THEN 'min_tokens' END,
           CASE WHEN x_punct = 1 THEN 'punct' END,
           CASE WHEN x_stop = 1 THEN 'stopwords' END
         ], x -> x IS NOT NULL)) AS failed
  FROM flags
)
SELECT doc_id,
       coalesce(array_to_string(failed, ';'), '') AS failed,
       CAST(len(failed) = 0 AS INTEGER) AS passed
FROM r
"""


def q_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level filter funnel: per-filter failure totals in one
    aggregation pass (conditional sums — no per-filter scans)."""
    docs = _t(spark, sf_dir, "documents")
    return tx.filter_counts(docs, _audit_filters())


ORACLE_FILTER_FUNNEL = f"""
WITH {_AUDIT_ORACLE_BASE}, tot AS (
  SELECT count(*) AS n_total,
         CAST(sum(x_len) AS BIGINT) AS c_len,
         CAST(sum(x_tok) AS BIGINT) AS c_tok,
         CAST(sum(x_punct) AS BIGINT) AS c_punct,
         CAST(sum(x_stop) AS BIGINT) AS c_stop
  FROM flags
)
SELECT 'len_range' AS filter, c_len AS n_failed, n_total FROM tot
UNION ALL SELECT 'min_tokens', c_tok, n_total FROM tot
UNION ALL SELECT 'punct', c_punct, n_total FROM tot
UNION ALL SELECT 'stopwords', c_stop, n_total FROM tot
"""


def q_semantic_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-context-pretraining-style packing (Shi et al. 2023,
    arXiv:2310.10638): pack the training token stream WITHIN semantic
    cells — each document joins its embedding's nearest-centroid cell
    (codegen'd fold) and ``pack_sequences`` runs with the cell as the
    packing partition, so every fixed-length sequence draws from
    semantically related documents instead of arbitrary neighbors.
    Pure composition of the IVF quantizer and the packing plan: one
    broadcast-ish id join + one per-cell window cumsum."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    emb = _t(spark, sf_dir, "embeddings")
    cents = sim.ivf_centroids(emb, 16)
    cells = emb.withColumn("_nv", sim.norm("embedding")).select(
        F.col("vec_id").alias("doc_id"),
        sim.ivf_cell("embedding", cents, norm_col="_nv").alias("cell"),
    )
    joined = docs.join(cells, "doc_id")
    return tx.pack_sequences(joined, 512, part="cell")


ORACLE_SEMANTIC_PACK = f"""
WITH cent AS (
  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cell,
         embedding::DOUBLE[] AS cvec
  FROM embeddings
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
  LIMIT 16
), vecs AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
), assign AS (
  SELECT vec_id, cell,
         row_number() OVER (
           PARTITION BY vec_id
           ORDER BY {_IVF_COS.format(a="e", b="cvec")} DESC, cell ASC
         ) AS rn
  FROM vecs, cent
), a1 AS (
  SELECT vec_id AS doc_id, CAST(cell AS INTEGER) AS part
  FROM assign WHERE rn = 1
), d AS (
  SELECT d.doc_id, a1.part,
         len(string_split(lower(d.text), ' '))::BIGINT AS n_tok
  FROM documents d JOIN a1 USING (doc_id)
), c AS (
  SELECT doc_id, part, n_tok,
         (sum(n_tok) OVER (PARTITION BY part ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          - n_tok)::BIGINT AS start_tok
  FROM d
)
SELECT doc_id, part, n_tok, start_tok,
       (start_tok // 512)::BIGINT AS pack_id,
       (start_tok % 512)::BIGINT AS pack_offset
FROM c
"""


def q_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering key over (value, user_id) on the events
    table: per-column exact-percentile ranks (16 levels each),
    bit-interleaved — the data-skipping layout key; at scale the
    write path is ``zorder_layout`` (range-partition + sort on this
    key)."""
    from .operators import zorder_key

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "value")
    return zorder_key(ev, ["value", "user_id"], bits=4).select(
        "event_id", "zkey"
    )


_Z_PROBS = ", ".join(str(i / 16) for i in range(1, 16))

ORACLE_ZORDER_KEY = f"""
WITH t AS (
  SELECT quantile_cont(value::DOUBLE, [{_Z_PROBS}]) AS c0,
         quantile_cont(user_id::DOUBLE, [{_Z_PROBS}]) AS c1
  FROM events
), r AS (
  SELECT e.event_id,
         len(list_filter(t.c0, c ->
             round(e.value::DOUBLE, 6) >= round(c, 6))) AS r0,
         len(list_filter(t.c1, c ->
             round(e.user_id::DOUBLE, 6) >= round(c, 6))) AS r1
  FROM events e, t
)
SELECT event_id,
       ( ((r0 >> 0) & 1) << 1 ) + ( ((r1 >> 0) & 1) << 0 )
     + ( ((r0 >> 1) & 1) << 3 ) + ( ((r1 >> 1) & 1) << 2 )
     + ( ((r0 >> 2) & 1) << 5 ) + ( ((r1 >> 2) & 1) << 4 )
     + ( ((r0 >> 3) & 1) << 7 ) + ( ((r1 >> 3) & 1) << 6 ) AS zkey
FROM r
"""


def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 retrieval over the corpus for a 3-term query —
    inverted-index probe shape: the query-term broadcast prunes the
    tf table to matching postings before any per-doc shuffle;
    fixed-point nano scores keep the sum order-independent and
    cross-engine exact."""
    docs = _t(spark, sf_dir, "documents")
    return tx.bm25_scores(docs, ["spark", "hash", "window"])


ORACLE_BM25_SEARCH = """
WITH t AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
  FROM documents
), tk AS (
  SELECT doc_id, term FROM t WHERE term <> ''
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM tk GROUP BY doc_id, term
), dl AS (
  SELECT doc_id, count(*) AS dl FROM tk GROUP BY doc_id
), dfq AS (
  SELECT term, count(*) AS dfq FROM tf GROUP BY term
), st AS (
  SELECT (SELECT count(*) FROM documents) AS n_docs,
         (SELECT avg(dl) FROM dl) AS avgdl
), q AS (
  SELECT DISTINCT unnest(['spark', 'hash', 'window']) AS term
), c AS (
  SELECT tf.doc_id,
         CAST(round(
           (ln(1 + (st.n_docs - dfq.dfq + 0.5) / (dfq.dfq + 0.5))
            * ((tf.tf * (1.2 + 1))
               / (tf.tf + 1.2 * ((1 - 0.75) + (0.75 * dl.dl) / st.avgdl))))
           * 1e9) AS BIGINT) AS c
  FROM tf
  JOIN q USING (term)
  JOIN dfq USING (term)
  JOIN dl USING (doc_id), st
)
SELECT doc_id, count(*) AS n_matched,
       CAST(sum(c) AS BIGINT) AS score_nano
FROM c GROUP BY doc_id
"""


def q_bm25_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DPR-style lexical hard-negative mining: for three labeled
    (query, positive) pairs, the top-3 non-positive BM25 hits — one
    shared corpus pass, positives excluded before the per-query
    WindowGroupLimit (text.bm25_hard_negatives)."""
    docs = _t(spark, sf_dir, "documents")
    return tx.bm25_hard_negatives(
        docs,
        {
            "q_exec": (["spark", "hash", "window"], 10),
            "q_store": (["table", "row", "scan"], 20),
            "q_mixed": (["spark", "table"], 30),
        },
        n_negatives=3,
    )


ORACLE_BM25_NEGATIVES = """
WITH t AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
  FROM documents
), tk AS (
  SELECT doc_id, term FROM t WHERE term <> ''
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM tk GROUP BY doc_id, term
), dl AS (
  SELECT doc_id, count(*) AS dl FROM tk GROUP BY doc_id
), dfq AS (
  SELECT term, count(*) AS dfq FROM tf GROUP BY term
), st AS (
  SELECT (SELECT count(*) FROM documents) AS n_docs,
         (SELECT avg(dl) FROM dl) AS avgdl
), probe(query_id, term) AS (
  VALUES ('q_exec', 'spark'), ('q_exec', 'hash'), ('q_exec', 'window'),
         ('q_store', 'table'), ('q_store', 'row'), ('q_store', 'scan'),
         ('q_mixed', 'spark'), ('q_mixed', 'table')
), pos(query_id, pos_doc_id) AS (
  VALUES ('q_exec', 10), ('q_store', 20), ('q_mixed', 30)
), c AS (
  SELECT probe.query_id, tf.doc_id,
         CAST(round(
           (ln(1 + (st.n_docs - dfq.dfq + 0.5) / (dfq.dfq + 0.5))
            * ((tf.tf * (1.2 + 1))
               / (tf.tf + 1.2 * ((1 - 0.75) + (0.75 * dl.dl) / st.avgdl))))
           * 1e9) AS BIGINT) AS c
  FROM tf
  JOIN probe USING (term)
  JOIN dfq USING (term)
  JOIN dl USING (doc_id), st
), agg AS (
  SELECT query_id, doc_id, count(*) AS n_matched,
         CAST(sum(c) AS BIGINT) AS score_nano
  FROM c GROUP BY query_id, doc_id
), rk AS (
  SELECT agg.query_id, pos.pos_doc_id, agg.doc_id, agg.score_nano,
         row_number() OVER (
           PARTITION BY agg.query_id
           ORDER BY agg.score_nano DESC, agg.doc_id ASC) AS rn
  FROM agg JOIN pos USING (query_id)
  WHERE agg.doc_id <> pos.pos_doc_id
)
SELECT query_id, pos_doc_id::BIGINT AS pos_doc_id,
       doc_id AS neg_doc_id, rn::BIGINT AS neg_rank, score_nano
FROM rk WHERE rn <= 3
"""


def q_length_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batch planning per source shard (batch 16):
    consecutive runs in (n_tok, doc_id) order form batches; per-doc
    padding waste falls out of the batch max
    (text.length_batches)."""
    docs = _t(spark, sf_dir, "documents")
    return tx.length_batches(docs, 16, part="source")


ORACLE_LENGTH_BATCHES = """
WITH n AS (
  -- mirrors text.token_count exactly: split size, empties included
  SELECT source AS part, doc_id,
         len(string_split(text, ' '))::BIGINT AS n_tok
  FROM documents
), r AS (
  SELECT part, doc_id, n_tok,
         ((row_number() OVER (
             PARTITION BY part ORDER BY n_tok ASC, doc_id ASC) - 1)
          // 16)::BIGINT AS batch_id
  FROM n
)
SELECT part, doc_id, n_tok, batch_id,
       max(n_tok) OVER (PARTITION BY part, batch_id)::BIGINT
         AS batch_max_tok,
       max(n_tok) OVER (PARTITION BY part, batch_id)::BIGINT
         AS padded_tok,
       (max(n_tok) OVER (PARTITION BY part, batch_id)
        - n_tok)::BIGINT AS waste_tok
FROM r
"""


def q_budget_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget batching per source shard (capacity 1024):
    next-fit-decreasing walk, docs never split — the documented
    pandas seam for a non-associative reset-fold; the oracle
    mirrors the walk as a recursive CTE."""
    docs = _t(spark, sf_dir, "documents")
    return tx.token_budget_batches(docs, 1024)


ORACLE_BUDGET_BATCHES = """
WITH RECURSIVE n AS (
  SELECT source AS part, doc_id,
         len(string_split(text, ' '))::BIGINT AS n_tok
  FROM documents
), o AS (
  SELECT part, doc_id, n_tok,
         row_number() OVER (
           PARTITION BY part ORDER BY n_tok DESC, doc_id ASC) AS idx
  FROM n
), walk AS (
  SELECT part, idx, doc_id, n_tok, 0 AS batch, n_tok AS acc
  FROM o WHERE idx = 1
  UNION ALL
  SELECT o.part, o.idx, o.doc_id, o.n_tok,
         CASE WHEN w.acc + o.n_tok > 1024 AND w.acc > 0
              THEN w.batch + 1 ELSE w.batch END,
         CASE WHEN w.acc + o.n_tok > 1024 AND w.acc > 0
              THEN o.n_tok ELSE w.acc + o.n_tok END
  FROM walk w JOIN o ON o.part = w.part AND o.idx = w.idx + 1
)
SELECT part, doc_id, n_tok, batch::BIGINT AS batch_id,
       sum(n_tok) OVER (PARTITION BY part, batch)::BIGINT AS batch_tok
FROM walk
"""


def q_bm25_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch BM25: three queries share one tokenize/tf/df pass; the
    (query_id, term) probe broadcast prunes postings before the
    (query, doc) shuffle; per-query top-20 is a WindowGroupLimit on
    exact integer scores."""
    docs = _t(spark, sf_dir, "documents")
    return tx.bm25_batch(
        docs,
        {
            "q_exec": ["spark", "hash", "window"],
            "q_store": ["table", "row", "scan"],
            "q_mixed": ["spark", "table"],
        },
        top_k=20,
    )


ORACLE_BM25_MULTI = """
WITH t AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
  FROM documents
), tk AS (
  SELECT doc_id, term FROM t WHERE term <> ''
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM tk GROUP BY doc_id, term
), dl AS (
  SELECT doc_id, count(*) AS dl FROM tk GROUP BY doc_id
), dfq AS (
  SELECT term, count(*) AS dfq FROM tf GROUP BY term
), st AS (
  SELECT (SELECT count(*) FROM documents) AS n_docs,
         (SELECT avg(dl) FROM dl) AS avgdl
), probe(query_id, term) AS (
  VALUES ('q_exec', 'spark'), ('q_exec', 'hash'), ('q_exec', 'window'),
         ('q_store', 'table'), ('q_store', 'row'), ('q_store', 'scan'),
         ('q_mixed', 'spark'), ('q_mixed', 'table')
), c AS (
  SELECT probe.query_id, tf.doc_id,
         CAST(round(
           (ln(1 + (st.n_docs - dfq.dfq + 0.5) / (dfq.dfq + 0.5))
            * ((tf.tf * (1.2 + 1))
               / (tf.tf + 1.2 * ((1 - 0.75) + (0.75 * dl.dl) / st.avgdl))))
           * 1e9) AS BIGINT) AS c
  FROM tf
  JOIN probe USING (term)
  JOIN dfq USING (term)
  JOIN dl USING (doc_id), st
), agg AS (
  SELECT query_id, doc_id, count(*) AS n_matched,
         CAST(sum(c) AS BIGINT) AS score_nano
  FROM c GROUP BY query_id, doc_id
), rk AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY score_nano DESC, doc_id ASC) AS rn
  FROM agg
)
SELECT query_id, doc_id, n_matched, score_nano FROM rk WHERE rn <= 20
"""


def q_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric n-gram containment on adjacent-id doc pairs — the
    quote/excerpt-detection signal (|∩|/|grams(A)| vs Jaccard's
    symmetric denominator), both directions per pair. Pure
    array-HOF expressions over a single self-join."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    a = docs.select(F.col("doc_id").alias("doc_a"), F.col("text").alias("ta"))
    b = docs.select(F.col("doc_id").alias("doc_b"), F.col("text").alias("tb"))
    return (
        a.join(b, F.col("doc_a") + 1 == F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.round(
                dd.ngram_containment(F.col("ta"), F.col("tb"), k=3), 6
            ).alias("cont_ab"),
            F.round(
                dd.ngram_containment(F.col("tb"), F.col("ta"), k=3), 6
            ).alias("cont_ba"),
        )
    )


ORACLE_NGRAM_CONTAINMENT = """
WITH sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(t) - 2, 1) + 1),
           i -> array_to_string(t[i:i+2], ' '))) AS s
  FROM (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents)
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       round(CASE WHEN len(a.s) > 0
             THEN len(list_intersect(a.s, b.s)) * 1.0 / len(a.s)
             ELSE 0 END, 6) AS cont_ab,
       round(CASE WHEN len(b.s) > 0
             THEN len(list_intersect(b.s, a.s)) * 1.0 / len(b.s)
             ELSE 0 END, 6) AS cont_ba
FROM sh a JOIN sh b ON a.doc_id + 1 = b.doc_id
"""


def q_quality_above_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative-threshold quality cut: keep documents at or above the
    corpus MEDIAN quality score (absolute thresholds don't transfer
    between corpora; quantile cuts do). Two passes: one-row exact
    percentile, then a broadcast-threshold filter — no collect."""
    from .operators import filter_by_quantile

    d = _ts(spark, sf_dir, "documents", "doc_id").select(
        "doc_id", F.round(tx.quality_score("text"), 6).alias("score")
    )
    return filter_by_quantile(d, "score", 0.5, keep="above")


ORACLE_QUALITY_ABOVE_MEDIAN = f"""
WITH base AS (
  SELECT doc_id, text,
         len(text) AS n,
         string_split(lower(text), ' ') AS toks,
         CASE WHEN len(text) > 0
              THEN (len(text) - len(regexp_replace(text, '[!-/:-@\\[-`{{-~]', '', 'g'))) * 1.0 / len(text)
              ELSE 0 END AS punct_ratio
  FROM documents
), s AS (
  SELECT doc_id,
         round((CASE WHEN n >= 50 AND n <= 20000 THEN 0.4 ELSE 0 END)
             + (CASE WHEN punct_ratio < 0.2 THEN 0.3 ELSE 0 END)
             + (CASE WHEN len(toks) > 0 AND
                  len(list_filter(toks, t -> list_contains([{_EN_STOPS}], t))) * 1.0 / len(toks) > 0.05
                THEN 0.3 ELSE 0 END), 6) AS score
  FROM base
), t AS (
  SELECT quantile_cont(score, 0.5) AS thr FROM s
)
SELECT doc_id, score FROM s, t WHERE score >= thr
"""


def q_length_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum binning: assign every document a length quartile —
    one cut-point aggregate broadcast against one scan (no global
    sort, no single-partition ntile window)."""
    from .operators import quantile_buckets

    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return quantile_buckets(docs, "n_chars", 4)


ORACLE_LENGTH_QUARTILES = """
WITH t AS (
  SELECT quantile_cont(n_chars, [0.25, 0.5, 0.75]) AS cuts FROM documents
)
SELECT doc_id, n_chars,
       1 + len(list_filter(t.cuts, c -> d.n_chars >= c)) AS qbucket
FROM documents d, t
"""


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware near-dup survivor selection: cluster near-dups
    (MinHash-LSH → connected components), then keep each cluster's
    LONGEST document (ties → lowest id) — the curation step that keeps
    the best copy, not the lowest id. Output: surviving doc ids."""
    docs = _ts(spark, sf_dir, "documents", "doc_id")
    clusters = dd.dedup_clusters(
        docs, num_hashes=16, bands=4, k=3, seed=42, cache=True
    )
    return dd.keep_best_per_cluster(docs, clusters, "n_chars").select(
        "doc_id"
    )


def q_dedup_cluster_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-table REUSE: the composition a real curation pipeline
    runs — materialize the near-dup cluster assignment ONCE, then
    feed BOTH per-cluster stats and quality-aware survivor selection
    from the shared table. The LSH+CC pipeline executes a single
    time; both consumers read the persisted assignment (plan-pinned
    in test_plans::test_cluster_report_single_clustering). At 100 TB
    the persist becomes a parquet materialization
    (``materialize_dir``) feeding any number of downstream curation
    jobs without re-clustering. Output: one row per cluster —
    size, total chars, and the quality-selected survivor."""
    docs = _ts(spark, sf_dir, "documents", "doc_id")
    clusters = dd.dedup_clusters(
        docs, num_hashes=16, bands=4, k=3, seed=42, cache=True
    ).persist()
    stats = (
        docs.join(clusters, on="doc_id")
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )
    survivors = dd.keep_best_per_cluster(
        docs, clusters, "n_chars", keep_cluster_col=True
    ).select(F.col("cluster_id"), F.col("doc_id").alias("survivor_id"))
    return stats.join(survivors, on="cluster_id")


ORACLE_DEDUP_CLUSTER_REPORT = (
    "WITH RECURSIVE "
    + _minhash_cte_block(16, 4, 3, 42)
    + """, edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
), walk(node, lab) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.b, w.lab FROM walk w JOIN edges e ON e.a = w.node
), comp AS (
  SELECT node, min(lab) AS component FROM walk GROUP BY node
), assign AS (
  SELECT d.doc_id, d.n_chars,
         coalesce(c.component, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
), ranked AS (
  SELECT doc_id, n_chars, cluster_id,
         row_number() OVER (PARTITION BY cluster_id
                            ORDER BY n_chars DESC, doc_id ASC) AS rk
  FROM assign
)
SELECT cluster_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       max(CASE WHEN rk = 1 THEN doc_id END) AS survivor_id
FROM ranked
GROUP BY cluster_id
"""
)


ORACLE_DEDUP_KEEP_BEST = (
    "WITH RECURSIVE "
    + _minhash_cte_block(16, 4, 3, 42)
    + """, edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
), walk(node, lab) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.b, w.lab FROM walk w JOIN edges e ON e.a = w.node
), comp AS (
  SELECT node, min(lab) AS component FROM walk GROUP BY node
), assign AS (
  SELECT d.doc_id, d.n_chars,
         coalesce(c.component, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
), ranked AS (
  SELECT doc_id,
         row_number() OVER (PARTITION BY cluster_id
                            ORDER BY n_chars DESC, doc_id ASC) AS rk
  FROM assign
)
SELECT doc_id FROM ranked WHERE rk = 1
"""
)


# =====================================================================
# Registry
# =====================================================================

#: name → (query fn, oracle SQL or None for rows-only checks)
# _ALL holds every query; the DRIVER GATE ORDER is the explicit
# ``_ORDER`` list below the literal (the driver checks the FIRST 50
# registry entries per round, so rotation = editing that list, not
# moving 50-line blocks around). The historical per-round window
# comments inside the literal are retained as provenance only —
# literal order is no longer meaningful.
# --------------------------------------------------------------- round 7


def q_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 (3-term lexical query) fused with
    dense cosine (vec_id=0 query vector) by reciprocal-rank fusion —
    each list bounded to its deterministic top-100 before fusion
    (rank membership ties break on id), integer-division rank
    points, top-20 fused. The oracle replays both scorers and the
    integer RRF exactly."""
    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    lex = (
        tx.bm25_scores(docs, ["spark", "hash", "window"])
        .select("doc_id", F.col("score_nano").alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(100)
    )
    qvec = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qe")
    )
    dense = (
        emb.crossJoin(F.broadcast(qvec))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(sim.cosine("embedding", "qe"), 6).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(100)
    )
    fused = sim.rrf_fuse([lex, dense], k=60)
    return fused.orderBy(F.desc("rrf_nano"), F.asc("doc_id")).limit(20)


ORACLE_HYBRID_SEARCH = """
WITH t AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
  FROM documents
), tk AS (
  SELECT doc_id, term FROM t WHERE term <> ''
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM tk GROUP BY doc_id, term
), dl AS (
  SELECT doc_id, count(*) AS dl FROM tk GROUP BY doc_id
), dfq AS (
  SELECT term, count(*) AS dfq FROM tf GROUP BY term
), st AS (
  SELECT (SELECT count(*) FROM documents) AS n_docs,
         (SELECT avg(dl) FROM dl) AS avgdl
), qq AS (
  SELECT DISTINCT unnest(['spark', 'hash', 'window']) AS term
), c AS (
  SELECT tf.doc_id,
         CAST(round(
           (ln(1 + (st.n_docs - dfq.dfq + 0.5) / (dfq.dfq + 0.5))
            * ((tf.tf * (1.2 + 1))
               / (tf.tf + 1.2 * ((1 - 0.75) + (0.75 * dl.dl) / st.avgdl))))
           * 1e9) AS BIGINT) AS c
  FROM tf
  JOIN qq USING (term)
  JOIN dfq USING (term)
  JOIN dl USING (doc_id), st
), lex AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS score FROM c GROUP BY doc_id
), q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
flat AS (
  SELECT e.vec_id,
         unnest(e.embedding)::DOUBLE AS x,
         generate_subscripts(e.embedding, 1) AS i
  FROM embeddings e
), qflat AS (
  SELECT unnest(qe)::DOUBLE AS y, generate_subscripts(qe, 1) AS i FROM q
), dense AS (
  SELECT f.vec_id AS doc_id,
         round(CASE WHEN sqrt(sum(f.x * f.x)) * sqrt(sum(qf.y * qf.y)) > 0
               THEN sum(f.x * qf.y)
                    / (sqrt(sum(f.x * f.x)) * sqrt(sum(qf.y * qf.y)))
               ELSE 0 END, 6) AS score
  FROM flat f JOIN qflat qf USING (i)
  GROUP BY f.vec_id
), r1 AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rn
  FROM lex
), r2 AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rn
  FROM dense
), u AS (
  SELECT doc_id, 1000000000 // (60 + rn) AS pts FROM r1 WHERE rn <= 100
  UNION ALL
  SELECT doc_id, 1000000000 // (60 + rn) AS pts FROM r2 WHERE rn <= 100
)
SELECT doc_id, count(*) AS n_lists, CAST(sum(pts) AS BIGINT) AS rrf_nano
FROM u GROUP BY doc_id
ORDER BY rrf_nano DESC, doc_id LIMIT 20
"""


def q_script_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Unicode-script histogram (multilingual routing +
    mojibake tripwire): disjoint char-class counts partitioning
    n_chars, plus non-Latin-per-million. Stateless regex scan."""
    docs = _t(spark, sf_dir, "documents")
    return tx.script_profile(docs)


def _script_mix_oracle() -> str:
    from .functions.text import _SCRIPT_CLASSES

    cols = []
    for name, pat in _SCRIPT_CLASSES:
        # DuckDB '...' literals pass backslashes through verbatim, so
        # RE2 sees the same \t\r\n escapes Java does — don't double
        p = pat.replace("'", "''")
        cols.append(
            f"length(t) - length(regexp_replace(t, '{p}', '', 'g'))"
            f" AS n_{name}"
        )
    known = " + ".join(f"n_{n}" for n, _ in _SCRIPT_CLASSES)
    return f"""
WITH raw AS (
  SELECT doc_id, coalesce(text, '') AS t FROM documents
), cnt AS (
  SELECT doc_id, length(t) AS n_chars, {", ".join(cols)}
  FROM raw
)
SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
       {", ".join(f"CAST(n_{n} AS BIGINT) AS n_{n}" for n, _ in _SCRIPT_CLASSES)},
       CAST(n_chars - ({known}) AS BIGINT) AS n_other,
       CAST(CASE WHEN n_chars - n_space > 0
            THEN floor(((n_chars - n_space - n_latin - n_digit) * 1000000)
                       / (n_chars - n_space))
            ELSE 0 END AS BIGINT) AS nonlatin_micro
FROM cnt
"""


ORACLE_SCRIPT_MIX = _script_mix_oracle()


def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty: fraction of a doc's distinct
    3-shingles first owned (min doc_id) by that doc — the
    incremental-value signal. One digest shuffle, min-owner join."""
    docs = _t(spark, sf_dir, "documents")
    return tx.ngram_novelty(docs, k=3)


ORACLE_NGRAM_NOVELTY = """
WITH sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(t) - 2, 1) + 1),
           i -> array_to_string(t[i:i+2], ' '))) AS s
  FROM (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents)
), g AS (
  SELECT doc_id, md5(u.g) AS d FROM sh, unnest(s) AS u(g)
  WHERE u.g <> ''
), own AS (
  SELECT d, min(doc_id) AS owner FROM g GROUP BY d
), per AS (
  SELECT g.doc_id, count(*) AS n_grams,
         sum(CASE WHEN own.owner = g.doc_id THEN 1 ELSE 0 END) AS n_novel
  FROM g JOIN own USING (d) GROUP BY g.doc_id
)
SELECT dd.doc_id,
       CAST(coalesce(n_grams, 0) AS BIGINT) AS n_grams,
       CAST(coalesce(n_novel, 0) AS BIGINT) AS n_novel,
       CAST(CASE WHEN coalesce(n_grams, 0) > 0
            THEN floor((n_novel * 1000000) / n_grams) ELSE 0 END
            AS BIGINT) AS novelty_micro
FROM (SELECT DISTINCT doc_id FROM documents) dd
LEFT JOIN per ON per.doc_id = dd.doc_id
"""


def q_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking: md5-gated k-gram boundaries (cut
    when hash % 32 == 0) — position-independent chunk digests, the
    storage-style dedup unit. Pure array expressions + one
    posexplode."""
    docs = _ts(spark, sf_dir, "documents", "doc_id")
    return dd.cdc_chunks(docs, divisor=32, k=4)


ORACLE_CDC_CHUNKS = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split(lower(text), ' '), x -> x <> '') AS t
  FROM documents
), cu AS (
  SELECT doc_id, t, len(t) AS n,
    list_filter(
      list_transform(range(1, greatest(len(t) - 3, 1) + 1),
        i -> CASE WHEN len(t) >= 4
                  AND (CAST('0x' || substr(md5(array_to_string(t[i:i+3], ' ')), 1, 8)
                       AS BIGINT) % 2147483648) % 32 = 0
                  AND i + 3 < len(t)
             THEN i + 3 END),
      x -> x IS NOT NULL) AS cuts
  FROM toks
), se AS (
  SELECT doc_id, t, n,
         list_prepend(1, list_transform(cuts, c -> c + 1)) AS starts,
         list_append(cuts, n) AS ends
  FROM cu
)
SELECT doc_id,
       CAST(u.i - 1 AS BIGINT) AS chunk_idx,
       CAST(starts[u.i] AS BIGINT) AS start_tok,
       CAST(ends[u.i] - starts[u.i] + 1 AS BIGINT) AS n_toks,
       md5(array_to_string(t[starts[u.i]:ends[u.i]], ' ')) AS chunk_digest
FROM se, unnest(range(1, len(starts) + 1)) AS u(i)
WHERE ends[u.i] - starts[u.i] + 1 > 0
"""


def q_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum training order: per-source difficulty stages (doc
    length as the difficulty proxy, exact per-key quantile cuts — no
    ntile, no window) + a deterministic md5 shuffle within each
    stage, emitted as a SORT KEY for the range-partitioned write."""
    from .operators import curriculum_order

    docs = _t(spark, sf_dir, "documents")
    out = curriculum_order(
        docs, "n_chars", n_stages=3, seed=42, key="source"
    )
    return out.select("doc_id", "source", "stage", "curriculum_key")


ORACLE_CURRICULUM = """
WITH cuts AS (
  SELECT source,
         percentile_cont(1.0/3) WITHIN GROUP (ORDER BY n_chars) AS c1,
         percentile_cont(2.0/3) WITHIN GROUP (ORDER BY n_chars) AS c2
  FROM documents GROUP BY source
), staged AS (
  SELECT d.doc_id, d.source,
         CAST(1 + CASE WHEN d.n_chars >= c.c1 THEN 1 ELSE 0 END
                + CASE WHEN d.n_chars >= c.c2 THEN 1 ELSE 0 END
              AS INT) AS stage
  FROM documents d JOIN cuts c USING (source)
)
SELECT doc_id, source, stage,
       lpad(stage::VARCHAR, 2, '0') || '-'
         || md5('42' || chr(31) || doc_id::VARCHAR) AS curriculum_key
FROM staged
"""


def q_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio modality end-to-end with a VALUE-level oracle: per doc,
    a real mono clip synthesized deterministically from the text's
    code points (encode kernel) → container decode + signal stats
    (decode kernel) — peak, exact int64 energy, strict
    zero-crossings. Round 10: the corpus alternates PCM-16 WAV and
    FLAC on doc_id % 2 — both are lossless, so ONE oracle replaying
    the sample formula in SQL gates the RIFF parser AND the whole
    FLAC stack (rice residuals, fixed predictors, CRCs); the byte
    round-trips happen only on the Spark side, so a header/codec
    bug in either container breaks the hash."""
    from .functions import multimodal as mm

    # pre-kernel repartition: the FLAC encode/decode kernels are the
    # cost here (round-10 mixed corpus), and the documents scan is a
    # single split at sf<=0.1 — fan the per-doc work across cores
    # like the other media queries (7.5 s -> ~1 s at sf0.1)
    docs = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    wavs = mm.synthesize_wav_from_text(
        docs, max_samples=2048, container="mixed"
    )
    return mm.audio_features(wavs).select(
        "doc_id",
        "sample_rate",
        "n_channels",
        "bit_depth",
        "n_samples",
        "peak",
        "sum_sq",
        "zero_crossings",
        "ok",
    )


ORACLE_AUDIO_FEATURES = """
WITH cp AS (
  SELECT doc_id,
         list_transform(range(1, least(length(text), 2048) + 1),
           i -> ((unicode(text[i:i])::BIGINT * 2654435761) % 65536)
                - 32768) AS v
  FROM documents
)
SELECT doc_id,
       16000 AS sample_rate,
       1 AS n_channels,
       16 AS bit_depth,
       CAST(len(v) AS BIGINT) AS n_samples,
       CAST(coalesce(list_max(list_transform(v, x -> abs(x))), 0)
            AS INT) AS peak,
       CAST(coalesce(list_aggregate(list_transform(v, x -> x * x),
                                    'sum'), 0) AS BIGINT) AS sum_sq,
       CAST(coalesce(len(list_filter(range(2, len(v) + 1),
                                     i -> v[i] * v[i - 1] < 0)), 0)
            AS BIGINT) AS zero_crossings,
       TRUE AS ok
FROM cp
"""


def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit per source: OLS slope/intercept of ln freq ~
    ln rank over each slice's term table — nano-quantized ln,
    decimal regression sums (engine-exact)."""
    docs = _t(spark, sf_dir, "documents")
    return tx.zipf_slopes(docs, key="source")


ORACLE_ZIPF_FIT = """
WITH tk AS (
  SELECT source AS key, u.term
  FROM documents, unnest(string_split(lower(text), ' ')) AS u(term)
  WHERE u.term <> ''
), tf AS (
  SELECT key, term, count(*) AS freq FROM tk GROUP BY key, term
), rk AS (
  SELECT key, freq,
         CAST(round(ln(row_number() OVER (
           PARTITION BY key ORDER BY freq DESC, term ASC)) * 1e9)
           AS BIGINT) AS x,
         CAST(round(ln(freq) * 1e9) AS BIGINT) AS y
  FROM tf
), ag AS (
  SELECT key, count(*) AS n_terms, CAST(sum(freq) AS BIGINT) AS n_tokens,
         sum(CAST(x AS HUGEINT)) AS sx_,
         sum(CAST(y AS HUGEINT)) AS sy_,
         sum(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy_,
         sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx_
  FROM rk GROUP BY key
)
SELECT key, CAST(n_terms AS BIGINT) AS n_terms, n_tokens,
       round(CASE WHEN CAST(n_terms AS DOUBLE) * (CAST(sxx_ AS DOUBLE) / 1e18)
                       - (CAST(sx_ AS DOUBLE) / 1e9) * (CAST(sx_ AS DOUBLE) / 1e9) > 0
             THEN (CAST(n_terms AS DOUBLE) * (CAST(sxy_ AS DOUBLE) / 1e18)
                   - (CAST(sx_ AS DOUBLE) / 1e9) * (CAST(sy_ AS DOUBLE) / 1e9))
                  / (CAST(n_terms AS DOUBLE) * (CAST(sxx_ AS DOUBLE) / 1e18)
                     - (CAST(sx_ AS DOUBLE) / 1e9) * (CAST(sx_ AS DOUBLE) / 1e9))
             END, 6) AS zipf_slope,
       round(CASE WHEN CAST(n_terms AS DOUBLE) * (CAST(sxx_ AS DOUBLE) / 1e18)
                       - (CAST(sx_ AS DOUBLE) / 1e9) * (CAST(sx_ AS DOUBLE) / 1e9) > 0
             THEN ((CAST(sy_ AS DOUBLE) / 1e9)
                   - ((CAST(n_terms AS DOUBLE) * (CAST(sxy_ AS DOUBLE) / 1e18)
                       - (CAST(sx_ AS DOUBLE) / 1e9) * (CAST(sy_ AS DOUBLE) / 1e9))
                      / (CAST(n_terms AS DOUBLE) * (CAST(sxx_ AS DOUBLE) / 1e18)
                         - (CAST(sx_ AS DOUBLE) / 1e9) * (CAST(sx_ AS DOUBLE) / 1e9)))
                     * (CAST(sx_ AS DOUBLE) / 1e9))
                  / CAST(n_terms AS DOUBLE)
             END, 6) AS zipf_intercept
FROM ag
"""


# --------------------------------------------------------------- round 8


def q_image_formats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed-container image decode at corpus scale: synthesize ONE
    real image per doc — baseline JPEG (grayscale; every 4th doc a
    restart-marker variant) for even doc_ids, RGB PNG for odd — with
    text-derived dimensions, then recover dims/channels/mode through
    the real decoders (``image_features`` with the container label
    riding as a passthrough column, no join back). The oracle
    replays the dimension rule and container routing arithmetically;
    ``mode``/``channels`` come from the DECODER, so a mislabeled or
    undecodable container cannot hash-match."""
    from .functions import multimodal as mm

    # the JPEG entropy coder is the per-block Python slow path, so
    # the codec stage must be wider than the input's split count: a
    # small parquet file scans as ONE split (measured 8.8 s serial at
    # sf0.1 vs ~1 s wide) — trade one narrow (doc_id, text) shuffle
    # for kernel parallelism, the standard move whenever a
    # codec-bound Python stage is fed by fewer splits than cores
    docs = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    fmt = (
        F.when(F.col("doc_id") % 4 == 0, F.lit("jpeg420"))
        .when(F.col("doc_id") % 2 == 0, F.lit("jpeg"))
        .otherwise(F.lit("png"))
    )
    media = mm.synthesize_image_from_text(docs, fmt=fmt)
    feats = mm.image_features(media, passthrough=["fmt"])
    return feats.select(
        "doc_id", "fmt", "width", "height", "channels", "mode", "ok"
    )


def q_image_ahash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image fingerprints over the corpus: synthesize an
    8×8 grayscale PNG per doc (pixels from text code points),
    decode through the real PNG codec, and emit the integer-exact
    average-hash — the near-duplicate-image signal (group/band the
    64-bit string exactly like simhash). The oracle replays the
    pixel formula and the strict px·64 > Σpx bit rule in SQL, so a
    single wrong pixel anywhere in the decode path flips a bit and
    fails the hash match."""
    from .functions import multimodal as mm

    docs = _t(spark, sf_dir, "documents")
    media = mm.synthesize_image_from_text(docs, fmt="pngL", size=(8, 8))
    return mm.image_ahash(media).select("doc_id", "px_sum", "ahash")


def q_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus exact paragraph dedup (CCNet/C4 paragraph pass):
    re-chunk each doc's word stream into 10-word pseudo-paragraphs
    (the corpus carries no newlines), keep only the first occurrence
    of each paragraph corpus-wide by (doc_id, para_idx), and report
    per-doc kept/dropped counts. One digest-keyed shuffle decides
    keep/drop; the doc_id aggregate is the second. The tiny shared
    vocabulary makes real cross-doc collisions, so kept < total."""
    docs = _t(spark, sf_dir, "documents")
    occ = dd.dedup_paragraphs(docs, dd.word_paragraphs("text", 10))
    return occ.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_paras"),
        F.sum(F.col("keep").cast("long")).alias("n_kept"),
        F.sum((~F.col("keep")).cast("long")).alias("n_dropped"),
    )


ORACLE_PARAGRAPH_DEDUP = """
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
), idx AS (
  SELECT doc_id, ws, unnest(range(0, len(ws), 10)) AS i FROM w
), p AS (
  SELECT doc_id, i,
         array_to_string(list_slice(ws, CAST(i + 1 AS BIGINT),
                                    CAST(i + 10 AS BIGINT)), ' ') AS para
  FROM idx
), r AS (
  SELECT doc_id,
         row_number() OVER (PARTITION BY para
                            ORDER BY doc_id, i) AS rn
  FROM p
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_paras,
       CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN rn = 1 THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped
FROM r GROUP BY doc_id
"""


def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease over the corpus: synthesize sentence
    structure (the corpus text carries no punctuation — append
    '. lang! source?' so the terminator scan has real work), then
    count words / sentence terminators / vowel-group syllables and
    apply the public Flesch formula, all as JVM regexp expressions.
    The oracle replays every regexp and the formula exactly."""
    docs = _t(spark, sf_dir, "documents")
    synth = F.concat(
        F.col("text"), F.lit(". "), F.col("lang"), F.lit("! "),
        F.col("source"), F.lit("?"),
    )
    rs = tx.readability_scores(synth)
    return docs.select(
        "doc_id",
        rs["n_words"].alias("n_words"),
        rs["n_sentences"].alias("n_sentences"),
        rs["n_syllables"].alias("n_syllables"),
        rs["flesch"].alias("flesch"),
    )


ORACLE_READABILITY = """
WITH s AS (
  SELECT doc_id,
         text || '. ' || lang || '! ' || source || '?' AS t
  FROM documents
), c AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(t, '[A-Za-z]+')) AS BIGINT) AS n_words,
         CAST(len(regexp_extract_all(t, '[.!?]+')) AS BIGINT) AS n_sentences,
         CAST(len(regexp_extract_all(lower(t), '[aeiouy]+')) AS BIGINT)
             AS n_syllables
  FROM s
)
SELECT doc_id, n_words, n_sentences, n_syllables,
       CASE WHEN n_words > 0 AND n_sentences > 0 THEN
         ROUND(206.835
               - 1.015 * n_words / n_sentences
               - 84.6 * n_syllables / n_words, 4)
       END AS flesch
FROM c
"""


# --------------------------------------------- staging block (r10+)
# Written in round 8 when the window was full; round 9 promoted
# ahash_pairs + html_extract, round 10 promoted the remaining six
# (pdf_extract, image_neardup_clusters, image_progressive,
# image_formats_all, video_frames, rebuild_paragraphs). Per the
# round-10 headroom policy (see the gate-order comment below) the
# gated registry is capped at 156, so NEW capability queries live
# here — oracle-paired and gate-sim-tested
# (tests/test_extensions.py::test_staged_queries_match_oracle) but
# not in _ALL; promoting one must retire or merge a gated row.


def q_gif_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Animated-GIF modality end-to-end (gated r10, retired r11
    under the zero-sum cap, RESTORED r12): per doc
    a REAL GIF89a animation (``1 + len(text) % 5`` full-canvas 8×8
    grayscale frames, per-frame local color tables, NETSCAPE loop
    extension), then sampled decode (every 2nd frame) through the
    disposal-compositing frame iterator routed via
    ``video_frame_features``'s per-row container sniff. GIF is
    lossless, so the oracle replays the frame-count rule, the
    sampling arithmetic, AND the exact per-frame pixel sums — LZW,
    palette expansion, compositing, and sampling all value-pinned
    corpus-wide. Bytes never shuffle."""
    from .functions import multimodal as mm

    docs = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    gifs = mm.synthesize_gif_from_text(docs, max_frames=5)
    return mm.video_frame_features(gifs, every_n=2).select(
        "doc_id", "frame_idx", "n_frames", "width", "height",
        "px_sum", "ok",
    )


def q_mp4_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-container routing metadata (round 10; gated since CORRECTNESS_r10): per doc
    a structurally valid metadata-only MP4 (text-derived track
    fields), parsed back through the ISO BMFF box walk into typed
    rows. The oracle replays every field rule in SQL — a mis-walked
    box, wrong fixed-point conversion, or mis-offset sample-entry
    field anywhere in the corpus fails the hash. Bytes never
    shuffle."""
    from .functions import mp4 as M

    docs = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    return M.mp4_metadata_features(M.synthesize_mp4_from_text(docs)).select(
        "doc_id", "brand", "duration_s", "n_tracks", "video_codec",
        "width", "height", "n_samples", "audio_codec", "channels",
        "sample_rate", "ok",
    )


ORACLE_MP4_METADATA = """
SELECT doc_id,
       'isom' AS brand,
       CAST(1 + length(text) % 30 AS DOUBLE) AS duration_s,
       CAST(2 AS INT) AS n_tracks,
       'avc1' AS video_codec,
       CAST(8 + length(text) % 9 AS INT) AS width,
       CAST(8 + length(text) % 7 AS INT) AS height,
       CAST(length(text) AS BIGINT) AS n_samples,
       'mp4a' AS audio_codec,
       CAST(1 + length(text) % 2 AS INT) AS channels,
       CAST(16000 AS INT) AS sample_rate,
       TRUE AS ok
FROM documents
"""


def q_audio_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressed-audio routing metadata (round 10; gated since CORRECTNESS_r10): per doc
    an MP3 (ID3v2 TIT2 tag + CBR MPEG-1 Layer III frames), an OGG
    Vorbis, or an OGG Opus fixture (all fields text-derived), parsed
    back through the frame/page walk into ONE typed row. The oracle
    replays every field rule in SQL — wrong frame-length arithmetic,
    a mis-skipped tag, a bad page CRC, or wrong granule→duration
    math anywhere in the corpus fails the hash. Bytes never
    shuffle."""
    from .functions import mp3ogg as A

    docs = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    return A.audio_metadata_features(
        A.synthesize_audio_meta_from_text(docs)
    ).select(
        "doc_id", "container", "codec", "duration_s", "sample_rate",
        "channels", "bitrate_kbps", "n_units", "title", "ok",
    )


ORACLE_AUDIO_METADATA = """
SELECT doc_id,
       CASE WHEN doc_id % 3 = 0 THEN 'mp3' ELSE 'ogg' END AS container,
       CASE doc_id % 3 WHEN 0 THEN 'mp3' WHEN 1 THEN 'vorbis'
            ELSE 'opus' END AS codec,
       CASE doc_id % 3
         WHEN 0 THEN CAST((1 + length(text) % 50) * 1152 AS DOUBLE)
           / (CASE (length(text) // 3) % 3 WHEN 0 THEN 32000
              WHEN 1 THEN 44100 ELSE 48000 END)
         WHEN 1 THEN CAST(length(text) * 97 AS DOUBLE)
           / (CASE length(text) % 3 WHEN 0 THEN 8000
              WHEN 1 THEN 16000 ELSE 44100 END)
         ELSE CAST(length(text) * 53 AS DOUBLE) / 48000
       END AS duration_s,
       CAST(CASE doc_id % 3
         WHEN 0 THEN CASE (length(text) // 3) % 3 WHEN 0 THEN 32000
              WHEN 1 THEN 44100 ELSE 48000 END
         WHEN 1 THEN CASE length(text) % 3 WHEN 0 THEN 8000
              WHEN 1 THEN 16000 ELSE 44100 END
         ELSE 48000
       END AS INT) AS sample_rate,
       CAST(1 + length(text) % 2 AS INT) AS channels,
       CAST(CASE WHEN doc_id % 3 = 0 THEN
         CASE length(text) % 3 WHEN 0 THEN 64 WHEN 1 THEN 128
              ELSE 192 END
       END AS INT) AS bitrate_kbps,
       CAST(CASE doc_id % 3
         WHEN 0 THEN 1 + length(text) % 50
         WHEN 1 THEN 3 + length(text) % 4
         ELSE 3 + length(text) % 3
       END AS BIGINT) AS n_units,
       't' || CAST(length(text) % 100 AS VARCHAR) AS title,
       TRUE AS ok
FROM documents
"""


ORACLE_GIF_FRAMES = """
WITH f AS (
  SELECT doc_id, text, CAST(1 + length(text) % 5 AS INT) AS nf
  FROM documents
), fr AS (
  SELECT doc_id, text, nf, CAST(t.i AS INT) AS frame_idx
  FROM f, (SELECT unnest(range(0, 5, 2)) AS i) t
  WHERE t.i < nf
), px AS (
  SELECT fr.doc_id, fr.frame_idx, fr.nf,
         ((CASE WHEN t.j < length(fr.text)
                THEN unicode(substring(fr.text, CAST(t.j + 1 AS INT), 1))
                ELSE 0 END + 1 + 7 * fr.frame_idx) * 2654435761) % 256 AS p
  FROM fr, (SELECT unnest(range(64)) AS j) t
)
SELECT doc_id, frame_idx, any_value(nf) AS n_frames,
       CAST(8 AS INT) AS width, CAST(8 AS INT) AS height,
       CAST(SUM(3 * p) + 64 * 255 AS BIGINT) AS px_sum,
       TRUE AS ok
FROM px GROUP BY doc_id, frame_idx
"""


def q_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-iteration modality end-to-end over BOTH animated
    containers (round 11 — absorbs the retired gif_frames gate):
    even doc_ids synthesize a REAL GIF89a animation (full-disposal
    compositing, per-frame local color tables), odd doc_ids a REAL
    MJPEG stream (marker-structure splitter + baseline JPEG
    decoder); both get ``1 + len(text) % 5`` 8×8 frames and sampled
    decode (every 2nd frame) through ``video_frame_features``'s
    per-row container sniff. GIF is lossless, so the oracle pins its
    exact per-frame pixel sums (LZW, palette expansion, compositing
    and sampling all value-pinned); MJPEG rows pin frame count,
    sampling arithmetic and dims, with px_sum masked NULL (lossy).
    Bytes never shuffle."""
    from .functions import multimodal as mm

    docs = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    gifs = mm.synthesize_gif_from_text(
        docs.where(F.col("doc_id") % 2 == 0), max_frames=5
    )
    vids = mm.synthesize_video_from_text(
        docs.where(F.col("doc_id") % 2 == 1), max_frames=5
    )
    return mm.video_frame_features(
        gifs.unionByName(vids), every_n=2
    ).select(
        "doc_id", "frame_idx", "n_frames", "width", "height",
        F.when(F.col("doc_id") % 2 == 0, F.col("px_sum"))
        .cast("bigint").alias("px_sum"),
        "ok",
    )


ORACLE_VIDEO_FRAMES = """
WITH f AS (
  SELECT doc_id, text, CAST(1 + length(text) % 5 AS INT) AS nf
  FROM documents
), fr AS (
  SELECT doc_id, text, nf, CAST(t.i AS INT) AS frame_idx
  FROM f, (SELECT unnest(range(0, 5, 2)) AS i) t
  WHERE t.i < nf
), px AS (
  SELECT fr.doc_id, fr.frame_idx,
         SUM(((CASE WHEN t.j < length(fr.text)
                THEN unicode(substring(fr.text, CAST(t.j + 1 AS INT), 1))
                ELSE 0 END + 1 + 7 * fr.frame_idx) * 2654435761) % 256)
         AS s
  FROM fr, (SELECT unnest(range(64)) AS j) t
  WHERE fr.doc_id % 2 = 0
  GROUP BY fr.doc_id, fr.frame_idx
)
SELECT fr.doc_id, fr.frame_idx, fr.nf AS n_frames,
       CAST(8 AS INT) AS width, CAST(8 AS INT) AS height,
       CAST(3 * px.s + 64 * 255 AS BIGINT) AS px_sum,
       TRUE AS ok
FROM fr
LEFT JOIN px
  ON fr.doc_id = px.doc_id AND fr.frame_idx = px.frame_idx
"""


def q_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML main-content extraction over a synthesized page per doc
    (title from lang/source, script+style+comment noise, heading/
    paragraph/div structure around the text). The oracle replays the
    regexp pipeline step for step — the one divergence is Java's
    backreference ``</\\1>`` in the script/style pass, which RE2
    lacks, so the oracle runs two explicit passes."""
    from .functions import web as wb

    docs = _t(spark, sf_dir, "documents")
    html = F.concat(
        F.lit("<html><head><title>"), F.col("lang"), F.lit("-"),
        F.col("source"), F.lit("</title><style>p{margin:0}</style>"
        "<script>var x='<p>no</p>';</script></head><body>"
        "<!-- nav --><h1>"), F.col("source"), F.lit("</h1><p>"),
        F.col("text"), F.lit(" &amp; more</p><div>"), F.col("lang"),
        F.lit("</div></body></html>"),
    )
    ex = wb.html_extract(html)
    return docs.select(
        "doc_id",
        ex["title"].alias("title"),
        ex["text"].alias("text"),
        ex["n_tags"].alias("n_tags"),
        ex["n_links"].alias("n_links"),
    )


ORACLE_HTML_EXTRACT = """
WITH h AS (
  SELECT doc_id,
         '<html><head><title>' || lang || '-' || source ||
         '</title><style>p{margin:0}</style>' ||
         '<script>var x=''<p>no</p>'';</script></head><body>' ||
         '<!-- nav --><h1>' || source || '</h1><p>' || text ||
         ' &amp; more</p><div>' || lang || '</div></body></html>' AS html
  FROM documents
), c AS (
  SELECT doc_id, html,
         regexp_replace(
           regexp_replace(
             regexp_replace(html,
               '(?is)<script\\b[^>]*>.*?</script\\s*>', ' ', 'g'),
             '(?is)<style\\b[^>]*>.*?</style\\s*>', ' ', 'g'),
           '(?s)<!--.*?-->', ' ', 'g') AS cleaned
  FROM h
), t AS (
  SELECT doc_id, html,
         regexp_extract(cleaned,
           '(?is)<title\\b[^>]*>(.*?)</title\\s*>', 1) AS title,
         regexp_replace(cleaned,
           '(?i)</(p|div|h[1-6]|li|tr|br|section|article)\\s*>|<br\\s*/?>',
           chr(10), 'g') AS blocky
  FROM c
), s AS (
  SELECT doc_id, html, title,
         replace(replace(replace(replace(replace(replace(
           regexp_replace(blocky, '(?s)<[A-Za-z/!][^>]*>', ' ', 'g'),
           '&amp;', '&'), '&lt;', '<'), '&gt;', '>'),
           '&quot;', '"'), '&#39;', ''''), '&nbsp;', ' ') AS text0
  FROM t
)
SELECT doc_id, trim(title) AS title,
       trim(regexp_replace(regexp_replace(regexp_replace(text0,
         '[ \\t\\r\\f]+', ' ', 'g'), ' ?\\n ?', chr(10), 'g'),
         '\\n{2,}', chr(10), 'g')) AS text,
       CAST(len(regexp_extract_all(html, '(?s)<[A-Za-z/!][^>]*>'))
            AS BIGINT) AS n_tags,
       CAST(len(regexp_extract_all(html, '(?is)<a\\s[^>]*href'))
            AS BIGINT) AS n_links
FROM s
"""


def q_rebuild_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cleaning half of paragraph dedup: cross-corpus keep-first
    at 10-word-paragraph granularity, then REBUILD each document
    from its surviving paragraphs in positional order (empty text
    when every paragraph was seen earlier). The oracle reassembles
    the same keep-set with string_agg ordered by position."""
    docs = _t(spark, sf_dir, "documents")
    return dd.apply_paragraph_dedup(
        docs, dd.word_paragraphs("text", 10)
    ).select("doc_id", "text", "n_paras", "n_kept")


ORACLE_REBUILD_PARAGRAPHS = """
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
), idx AS (
  SELECT doc_id, ws, unnest(range(0, len(ws), 10)) AS i FROM w
), p AS (
  SELECT doc_id, i,
         array_to_string(list_slice(ws, CAST(i + 1 AS BIGINT),
                                    CAST(i + 10 AS BIGINT)), ' ') AS para
  FROM idx
), r AS (
  SELECT doc_id, i, para,
         row_number() OVER (PARTITION BY para
                            ORDER BY doc_id, i) AS rn
  FROM p
), kept AS (
  SELECT doc_id,
         string_agg(para, chr(10) ORDER BY i) AS text,
         CAST(COUNT(*) AS BIGINT) AS n_kept
  FROM r WHERE rn = 1 GROUP BY doc_id
), totals AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_paras FROM p GROUP BY doc_id
)
SELECT t.doc_id, COALESCE(k.text, '') AS text, t.n_paras,
       COALESCE(k.n_kept, 0) AS n_kept
FROM totals t LEFT JOIN kept k USING (doc_id)
"""


def q_image_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full multimodal near-dup story under ONE oracle (VERDICT
    r8 item 9): synthesize real 8×8 grayscale PNGs → decode → aHash
    signature → banded Hamming join (pigeonhole-exact recall at
    max_hamming=10) → connected components → per-document cluster
    assignment, singletons keeping their own id. The oracle replays
    the pixel formula, the aHash bit rule, the BRUTE-FORCE pair set,
    and a recursive-CTE transitive closure — so codec, signature,
    banding recall, and clustering are all value-pinned end-to-end.

    Scale shape: bytes never shuffle (decode+hash where the image
    lives, only 64-bit signatures move); pairs come from the banded
    bucket join, never all-pairs; CC runs over the pair list only;
    the final assignment is an AQE-broadcast left join."""
    from .functions import multimodal as mm
    from .functions.graph import connected_components

    docs = _ts(spark, sf_dir, "documents", "doc_id")
    media = mm.synthesize_image_from_text(docs, fmt="pngL", size=(8, 8))
    sigs = mm.image_ahash(media).select(
        "doc_id", dd.bitstring64_to_long("ahash").alias("sig")
    )
    pairs = dd.hamming_band_pairs(sigs, "sig", max_hamming=10, cache=True)
    comp = connected_components(pairs, src="a", dst="b").withColumnRenamed(
        "node", "doc_id"
    )
    return docs.select("doc_id").join(comp, "doc_id", "left").select(
        "doc_id",
        F.coalesce("component", "doc_id").alias("cluster_id"),
    )


ORACLE_IMAGE_NEARDUP_CLUSTERS = """
WITH RECURSIVE px AS (
  SELECT d.doc_id, t.i,
         CASE WHEN t.i < length(d.text)
              THEN ((unicode(substring(d.text, CAST(t.i + 1 AS INT), 1))
                     + 1) * 2654435761) % 256
              ELSE 2654435761 % 256 END AS p
  FROM documents d, (SELECT unnest(range(64)) AS i) t
), s AS (
  SELECT doc_id, SUM(p) AS px_sum FROM px GROUP BY doc_id
), h AS (
  SELECT px.doc_id,
         string_agg(CASE WHEN px.p * 64 > s.px_sum THEN '1' ELSE '0' END,
                    '' ORDER BY px.i) AS bits
  FROM px JOIN s USING (doc_id) GROUP BY px.doc_id
), pairs AS (
  SELECT a.doc_id AS a, b.doc_id AS b
  FROM h a JOIN h b ON a.doc_id < b.doc_id
  WHERE len(list_filter(range(64),
          i -> substring(a.bits, CAST(i + 1 AS INT), 1)
               <> substring(b.bits, CAST(i + 1 AS INT), 1))) <= 10
), edges AS (
  SELECT a, b FROM pairs
  UNION
  SELECT b, a FROM pairs
), walk(node, lab) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.b, w.lab FROM walk w JOIN edges e ON e.a = w.node
), comp AS (
  SELECT node, min(lab) AS component FROM walk GROUP BY node
)
SELECT d.doc_id, coalesce(c.component, d.doc_id) AS cluster_id
FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
"""


def q_image_formats_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every container/layout the engine decodes, in ONE corpus pass
    (gated r10 — extends the r8-gated ``image_formats`` pair to the
    full decoder surface): per doc_id % 8 the synthesizer emits RGB
    PNG, grayscale PNG, baseline JPEG, restart-marker JPEG,
    PROGRESSIVE JPEG, GIF, BMP, Adam7-INTERLACED RGB PNG, or
    LZW-compressed TIFF (round 10), all with text-derived
    dimensions; dims/channels/mode then
    come back through the REAL decoders. The oracle replays the
    routing and dimension rules — a mislabeled, mis-dimensioned, or
    undecodable container anywhere in the corpus fails the hash."""
    from .functions import multimodal as mm

    docs = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    m = F.col("doc_id") % 9
    fmt = (
        F.when(m == 0, F.lit("png"))
        .when(m == 1, F.lit("pngL"))
        .when(m == 2, F.lit("jpeg"))
        .when(m == 3, F.lit("jpeg420"))
        .when(m == 4, F.lit("jpegP"))
        .when(m == 5, F.lit("gif"))
        .when(m == 6, F.lit("bmp"))
        .when(m == 7, F.lit("pngI"))
        .otherwise(F.lit("tiff"))
    )
    media = mm.synthesize_image_from_text(docs, fmt=fmt)
    feats = mm.image_features(media, passthrough=["fmt"])
    return feats.select(
        "doc_id", "fmt", "width", "height", "channels", "mode", "ok"
    )


ORACLE_IMAGE_FORMATS_ALL = """
SELECT doc_id,
       CASE doc_id % 9 WHEN 0 THEN 'png' WHEN 1 THEN 'pngL'
            WHEN 2 THEN 'jpeg' WHEN 3 THEN 'jpeg420'
            WHEN 4 THEN 'jpegP' WHEN 5 THEN 'gif'
            WHEN 6 THEN 'bmp' WHEN 7 THEN 'pngI'
            ELSE 'tiff' END AS fmt,
       CAST(8 + length(text) % 9 AS INT) AS width,
       CAST(8 + length(text) % 7 AS INT) AS height,
       CAST(CASE WHEN doc_id % 9 IN (0, 5, 7) THEN 3 ELSE 1 END AS INT)
           AS channels,
       CASE WHEN doc_id % 9 IN (0, 5, 7) THEN 'RGB' ELSE 'L' END AS mode,
       TRUE AS ok
FROM documents
"""


def q_pdf_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document modality end-to-end (round 10; gated since CORRECTNESS_r10): per doc a REAL
    multi-page PDF (``1 + len(text) % 3`` pages, words split across
    pages round-robin, Flate-compressed content streams, real xref),
    then text extraction through the zero-dependency PDF reader. The
    oracle rebuilds the exact extracted text (pages joined by
    form-feed) from the word round-robin in SQL and compares its
    md5 — so the writer, the object scan, Flate, the string-escape
    machinery, and the content-stream text machine are all
    value-pinned corpus-wide. Bytes never shuffle."""
    from .functions import pdf as P

    docs = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    feats = P.pdf_text_features(P.synthesize_pdf_from_text(docs))
    return feats.select(
        "doc_id",
        "n_pages",
        F.col("n_chars").cast("int").alias("n_chars"),
        F.md5(F.col("text")).alias("text_md5"),
        "ok",
    )


ORACLE_PDF_EXTRACT = """
WITH base AS (
  SELECT doc_id, CAST(1 + length(text) % 3 AS INT) AS n,
         string_split(text, ' ') AS ws
  FROM documents
), tok AS (
  SELECT doc_id, n, CAST(t.i AS INT) AS i,
         ws[CAST(t.i + 1 AS INT)] AS word
  FROM base, unnest(range(len(ws))) AS t(i)
), pg AS (
  SELECT doc_id, i % n AS page,
         string_agg(word, ' ' ORDER BY i) AS ptext
  FROM tok GROUP BY doc_id, n, (i % n)
), allpg AS (
  SELECT b.doc_id, b.n, CAST(t.p AS INT) AS page,
         COALESCE(pg.ptext, '') AS ptext
  FROM base b
  CROSS JOIN unnest(range(b.n)) AS t(p)
  LEFT JOIN pg ON pg.doc_id = b.doc_id AND pg.page = t.p
), doc AS (
  SELECT doc_id, any_value(n) AS n_pages,
         string_agg(ptext, chr(12) ORDER BY page) AS text
  FROM allpg GROUP BY doc_id
)
SELECT doc_id, n_pages, CAST(length(text) AS INT) AS n_chars,
       md5(text) AS text_md5, TRUE AS ok
FROM doc
"""


def q_image_progressive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide progressive-JPEG decode parity (round 9 codec;
    gated r10, retired r11 under the zero-sum cap, RESTORED r12):
    every document synthesized TWICE — baseline
    sequential and progressive (SOF2, the full 4-scan-kind
    successive-approximation script) — decoded through the real
    codec, and compared by integer pixel sum AND aHash signature.
    The oracle is the invariant itself: every row must read TRUE,
    because both entropy codings carry the SAME quantized
    coefficients, so one flipped refinement bit anywhere in the
    corpus fails the gate. Deterministic 1-in-5 subset (doc_id % 5):
    the gate is a cross-coding invariant, not a corpus statistic —
    the sample keeps the text-derived dimension variety (multi-block
    scans, non-multiple-of-8 edges) at a tenth of the double-encode
    cost (1-in-5 until round 13; VERDICT r12 item 8 — the query's
    wall was pure kernel serialization of the double encode, so the
    subset halved again with the full space still pinned by the
    codec tests). Bytes never shuffle; only (doc_id, three
    booleans) cross."""
    from .functions import multimodal as mm

    docs = _t(spark, sf_dir, "documents").where(
        F.col("doc_id") % 10 == 0
    )
    base = mm.image_ahash(
        mm.synthesize_image_from_text(docs, fmt="jpeg", quality=90)
    ).select(
        "doc_id", F.col("px_sum").alias("_bs"),
        F.col("ahash").alias("_bh"), F.col("ok").alias("_bok"),
    )
    prog = mm.image_ahash(
        mm.synthesize_image_from_text(docs, fmt="jpegP", quality=90)
    ).select(
        "doc_id", F.col("px_sum").alias("_ps"),
        F.col("ahash").alias("_ph"), F.col("ok").alias("_pok"),
    )
    return base.join(prog, "doc_id").select(
        "doc_id",
        (F.col("_bs") == F.col("_ps")).alias("sum_match"),
        (F.col("_bh") == F.col("_ph")).alias("hash_match"),
        (F.col("_bok") & F.col("_pok")).alias("ok"),
    )


ORACLE_IMAGE_PROGRESSIVE = """
SELECT doc_id, TRUE AS sum_match, TRUE AS hash_match, TRUE AS ok
FROM documents WHERE doc_id % 10 = 0
"""


def q_image_exif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXIF normalization (round 10 s2; gated since CORRECTNESS_r11): text-derived JPEGs
    with injected APP1 segments — orientation cycles all eight EXIF
    transforms, make/model/datetime text-derived, every third doc
    EXIF-less — parsed back and orientation-NORMALIZED, reporting
    the as-viewed dimensions (orientations 5-8 swap the coded W/H).
    The oracle replays tag values AND the dimension swap in SQL, so
    a mis-walked IFD, a wrong transform, or a bad writer offset
    anywhere in the corpus fails the hash. Bytes never shuffle."""
    from .functions import exif as XF

    docs = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    return XF.image_exif_features(
        XF.synthesize_exif_corpus(docs)
    ).select(
        "doc_id", "has_exif", "orientation", "make", "model",
        "datetime", "width", "height", "ok",
    )


ORACLE_IMAGE_EXIF = """
WITH b AS (
  SELECT doc_id, length(text) AS n, doc_id % 3 <> 2 AS hx
  FROM documents
)
SELECT doc_id,
       hx AS has_exif,
       CASE WHEN hx THEN CAST(1 + n % 8 AS INT) END AS orientation,
       CASE WHEN hx THEN 'cam' || CAST(n % 5 AS VARCHAR) END AS make,
       CASE WHEN hx THEN 'm' || CAST(n % 7 AS VARCHAR) END AS model,
       CASE WHEN hx THEN
         '20' || lpad(CAST(10 + n % 15 AS VARCHAR), 2, '0') || ':'
              || lpad(CAST(1 + n % 12 AS VARCHAR), 2, '0') || ':'
              || lpad(CAST(1 + n % 28 AS VARCHAR), 2, '0')
              || ' 00:00:00'
       END AS datetime,
       CAST(CASE WHEN hx AND n % 8 >= 4 THEN 8 + n % 7
                 ELSE 8 + n % 9 END AS INT) AS width,
       CAST(CASE WHEN hx AND n % 8 >= 4 THEN 8 + n % 9
                 ELSE 8 + n % 7 END AS INT) AS height,
       TRUE AS ok
FROM b
"""


def q_office_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Office-document modality (promoted round 11, driver-green
    CORRECTNESS_r11; RETIRED from the gated registry round 12 —
    its 3-format rotation is a strict subset of doctext_sweep's
    8-family rotation under the same md5-of-extracted-text oracle,
    and the adversarial fixtures live in the shared encoders, so
    the router query carries the coverage; this function + oracle
    stay for pytest parity): per doc a REAL office package rotating
    on ``doc_id % 3`` —
    DOCX (WordprocessingML: rels-resolved main part, two runs per
    paragraph, planted field-instruction text the extractor must
    skip), EPUB (OCF container → OPF → spine, chapter filenames
    scrambled so only spine order extracts correctly), PPTX
    (PresentationML: sldIdLst → relationship ids order the slides,
    filenames scrambled) — ``1 + len(text) % 4`` units with words
    round-robin, then text extraction through the zero-dependency
    readers. The oracle rebuilds the exact extracted text in SQL and
    compares its md5, so the zip plumbing, the XML walks, run
    concatenation, and spine/deck ordering are all value-pinned
    corpus-wide. Bytes never shuffle."""
    from .functions import office as of

    docs = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    feats = of.office_text_features(of.synthesize_office_from_text(docs))
    return feats.select(
        "doc_id",
        "kind",
        "n_units",
        F.col("n_chars").cast("int").alias("n_chars"),
        F.md5(F.col("text")).alias("text_md5"),
        "ok",
    )


ORACLE_OFFICE_EXTRACT = """
WITH norm AS (
  -- mirror the synthesizer's whitespace normalization
  SELECT doc_id,
         trim(regexp_replace(text, '\\s+', ' ', 'g')) AS text
  FROM documents
), base AS (
  SELECT doc_id, CAST(1 + length(text) % 4 AS INT) AS n,
         string_split(text, ' ') AS ws
  FROM norm
), tok AS (
  SELECT doc_id, n, CAST(t.i AS INT) AS i,
         ws[CAST(t.i + 1 AS INT)] AS word
  FROM base, unnest(range(len(ws))) AS t(i)
), unit AS (
  SELECT doc_id, n, i % n AS u,
         string_agg(word, ' ' ORDER BY i) AS utext
  FROM tok GROUP BY doc_id, n, (i % n)
), allu AS (
  SELECT b.doc_id, b.n, CAST(t.u AS INT) AS u,
         COALESCE(unit.utext, '') AS utext
  FROM base b
  CROSS JOIN unnest(range(b.n)) AS t(u)
  LEFT JOIN unit ON unit.doc_id = b.doc_id AND unit.u = t.u
), doc AS (
  SELECT doc_id, any_value(n) AS n_units,
         CASE doc_id % 3
           WHEN 0 THEN string_agg(utext, chr(10) ORDER BY u)
           WHEN 1 THEN string_agg('Chapter ' || CAST(u AS VARCHAR)
                                  || chr(10) || utext,
                                  chr(12) ORDER BY u)
           ELSE string_agg('Slide ' || CAST(u AS VARCHAR)
                           || chr(10) || utext, chr(12) ORDER BY u)
         END AS text
  FROM allu
  GROUP BY doc_id
)
SELECT doc_id,
       CASE doc_id % 3 WHEN 0 THEN 'docx' WHEN 1 THEN 'epub'
            ELSE 'pptx' END AS kind,
       n_units, CAST(length(text) AS INT) AS n_chars,
       md5(text) AS text_md5, TRUE AS ok
FROM doc
"""


def q_latex_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LaTeX modality (promoted round 11, commit 7ddb5aa;
    driver-green CORRECTNESS_r11): per doc
    a full synthetic article — preamble, ``1 + len(text) % 3``
    sections with words round-robin, a ``\\textbf`` wrap, planted
    ``\\cite`` + inline math + a brace-carrying comment + an
    ``equation`` environment per section, all of which must vanish —
    extracted through the structural scanner. The oracle rebuilds
    the exact extracted text in SQL and compares its md5, so the
    group walk, escape handling, environment dropping, and
    whitespace normalization are value-pinned corpus-wide."""
    from .functions import latex as lx

    docs = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    feats = lx.latex_text_features(lx.synthesize_latex_from_text(docs))
    return feats.select(
        "doc_id",
        F.col("n_chars").cast("int").alias("n_chars"),
        F.md5(F.col("text")).alias("text_md5"),
        "ok",
    )


ORACLE_LATEX_EXTRACT = """
WITH norm AS (
  -- mirror the synthesizer's deterministic input normalization:
  -- LaTeX-special characters -> '-', whitespace runs -> one space
  SELECT doc_id,
         trim(regexp_replace(
           regexp_replace(text, '[\\\\~^%&$#{}_]', '-', 'g'),
           '\\s+', ' ', 'g'
         )) AS text
  FROM documents
), base AS (
  SELECT doc_id, CAST(1 + length(text) % 3 AS INT) AS n,
         string_split(text, ' ') AS ws
  FROM norm
), tok AS (
  SELECT doc_id, n, CAST(t.i AS INT) AS i,
         ws[CAST(t.i + 1 AS INT)] AS word
  FROM base, unnest(range(len(ws))) AS t(i)
), unit AS (
  SELECT doc_id, n, i % n AS u,
         string_agg(word, ' ' ORDER BY i) AS utext
  FROM tok GROUP BY doc_id, n, (i % n)
), allu AS (
  SELECT b.doc_id, CAST(t.u AS INT) AS u,
         COALESCE(unit.utext, '') AS utext
  FROM base b
  CROSS JOIN unnest(range(b.n)) AS t(u)
  LEFT JOIN unit ON unit.doc_id = b.doc_id AND unit.u = t.u
), doc AS (
  SELECT doc_id,
         string_agg(
           'Section ' || CAST(u AS VARCHAR)
           || CASE WHEN utext <> '' THEN chr(10) || utext ELSE '' END,
           chr(10) ORDER BY u
         ) AS text
  FROM allu GROUP BY doc_id
)
SELECT doc_id, CAST(length(text) AS INT) AS n_chars,
       md5(text) AS text_md5, TRUE AS ok
FROM doc
"""


def q_markdown_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markdown modality (round 12): per doc a REAL markdown
    document — ``1 + len(text) % 3`` ATX-headed sections with words
    round-robin, each section's first word code-spanned, middle word
    strong-wrapped, last word link-wrapped, plus a document-wide
    fenced code block (content must survive VERBATIM), blockquote,
    list, GFM table (cell text survives; pipes and the separator
    line drop), thematic break, and link-definition line — extracted
    through the structural CommonMark-core scanner
    (``functions/markdown.py``). The oracle rebuilds the exact
    extracted text in SQL and compares its md5, so heading handling,
    inline resolution, fence verbatim-ness, table extraction, and
    structure-line dropping are value-pinned corpus-wide."""
    from .functions import markdown as mdw

    docs = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    feats = mdw.markdown_text_features(
        mdw.synthesize_markdown_from_text(docs)
    )
    return feats.select(
        "doc_id",
        F.col("n_chars").cast("int").alias("n_chars"),
        F.md5(F.col("text")).alias("text_md5"),
        "ok",
    )


#: RE2 fragment for the ADVICE-r12 divergent characters (NUL +
#: non-ASCII str.strip() whitespace), spliced into the modality
#: oracles' special-character classes — ONE copy, shared with the
#: synthesizer normalizations (functions/web.py).
from .functions.web import SYNTH_DIVERGENT_RE2 as _DIVERGENT_RE2

ORACLE_MARKDOWN_EXTRACT = """
WITH norm AS (
  -- mirror the synthesizer's deterministic input normalization:
  -- markdown-special characters -> '-', whitespace runs -> one space
  SELECT doc_id,
         trim(regexp_replace(
           regexp_replace(COALESCE(text, ''),
                          '[\\\\`*_\\[\\]()#!<>~|@DIVERGENT@]', '-', 'g'),
           '\\s+', ' ', 'g'
         )) AS text
  FROM documents
), base AS (
  SELECT doc_id,
         LEAST(CAST(1 + length(text) % 3 AS INT),
               CAST(len(string_split(text, ' ')) AS INT)) AS n,
         string_split(text, ' ') AS ws
  FROM norm
), tok AS (
  SELECT doc_id, n, CAST(t.i AS INT) AS i,
         ws[CAST(t.i + 1 AS INT)] AS word
  FROM base, unnest(range(len(ws))) AS t(i)
), unit AS (
  SELECT doc_id, n, CAST(i % n AS INT) AS u,
         string_agg(word, ' ' ORDER BY i) AS utext
  FROM tok GROUP BY doc_id, n, (i % n)
), doc AS (
  -- an empty unit emits its heading only (the extractor collapses
  -- the blank body line) — same guard the latex oracle carries
  SELECT doc_id,
         string_agg('Section ' || CAST(u AS VARCHAR)
                    || CASE WHEN utext <> '' THEN chr(10) || utext
                            ELSE '' END,
                    chr(10) ORDER BY u)
         || chr(10) || 'quoted line'
         || chr(10) || 'item one'
         || chr(10) || 'item two'
         || chr(10) || 'Col A Col B'
         || chr(10) || 'cell one cell two'
         || chr(10) || 'code **stays** [verbatim](x)' AS text
  FROM unit GROUP BY doc_id
)
SELECT doc_id, CAST(length(text) AS INT) AS n_chars,
       md5(text) AS text_md5, TRUE AS ok
FROM doc
""".replace("@DIVERGENT@", _DIVERGENT_RE2)


def q_wikitext_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wikitext modality (round 12): per doc a REAL MediaWiki
    article — ``1 + len(text) % 3`` ``== Section i ==``-headed
    sections with words round-robin, the first word plain-wikilinked,
    middle word bold-quoted, last word pipe-wikilinked, a template
    and a ``<ref>`` per section that must vanish, plus a
    document-wide nested infobox template, ``__TOC__``, a table
    whose CELL text must survive, a list item, an external link
    whose label survives, and a Category link that must vanish —
    extracted through the structural wikitext scanner
    (``functions/wikitext.py``). The oracle rebuilds the exact
    extracted text in SQL and compares its md5, so link resolution,
    template/ref dropping, table-cell extraction, and heading
    handling are value-pinned corpus-wide."""
    from .functions import wikitext as wk

    docs = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    feats = wk.wikitext_text_features(
        wk.synthesize_wikitext_from_text(docs)
    )
    return feats.select(
        "doc_id",
        F.col("n_chars").cast("int").alias("n_chars"),
        F.md5(F.col("text")).alias("text_md5"),
        "ok",
    )


ORACLE_WIKITEXT_EXTRACT = """
WITH norm AS (
  -- mirror the synthesizer's deterministic input normalization:
  -- wikitext-special characters (incl. apostrophes) -> '-',
  -- whitespace runs -> one space
  SELECT doc_id,
         trim(regexp_replace(
           regexp_replace(COALESCE(text, ''),
                          '[{}\\[\\]|=*#:;<>&!''_@DIVERGENT@]', '-', 'g'),
           '\\s+', ' ', 'g'
         )) AS text
  FROM documents
), base AS (
  SELECT doc_id,
         LEAST(CAST(1 + length(text) % 3 AS INT),
               CAST(len(string_split(text, ' ')) AS INT)) AS n,
         string_split(text, ' ') AS ws
  FROM norm
), tok AS (
  SELECT doc_id, n, CAST(t.i AS INT) AS i,
         ws[CAST(t.i + 1 AS INT)] AS word
  FROM base, unnest(range(len(ws))) AS t(i)
), unit AS (
  SELECT doc_id, n, CAST(i % n AS INT) AS u,
         string_agg(word, ' ' ORDER BY i) AS utext
  FROM tok GROUP BY doc_id, n, (i % n)
), doc AS (
  -- an empty unit emits its heading only (the extractor collapses
  -- the blank body line)
  SELECT doc_id,
         string_agg('Section ' || CAST(u AS VARCHAR)
                    || CASE WHEN utext <> '' THEN chr(10) || utext
                            ELSE '' END,
                    chr(10) ORDER BY u)
         || chr(10) || 'tcell one tcell two'
         || chr(10) || 'item one'
         || chr(10) || 'linktext' AS text
  FROM unit GROUP BY doc_id
)
SELECT doc_id, CAST(length(text) AS INT) AS n_chars,
       md5(text) AS text_md5, TRUE AS ok
FROM doc
""".replace("@DIVERGENT@", _DIVERGENT_RE2)


def q_subtitles_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subtitle modality (round 12): per doc a REAL transcript —
    ``1 + len(text) % 3`` cues (words round-robin), SRT for even
    doc_ids (numeric index + ``HH:MM:SS,mmm`` timestamps, an ASS
    positioning brace on the first cue, the middle word
    italic-tagged) and WebVTT for odd (header, a NOTE block, cue
    identifiers, settings-bearing timestamps, a class-span wrap) —
    extracted through the SRT/VTT scanners
    (``functions/subtitles.py``), the dispatch being the same
    WEBVTT-header test the universal router uses. The oracle
    rebuilds the exact cue text in SQL and compares its md5, so
    index/timestamp/header dropping and markup stripping are
    value-pinned corpus-wide for BOTH formats."""
    from .functions import subtitles as st

    docs = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    feats = st.subtitle_text_features(
        st.synthesize_subtitles_from_text(docs)
    )
    return feats.select(
        "doc_id",
        "kind",
        F.col("n_chars").cast("int").alias("n_chars"),
        F.md5(F.col("text")).alias("text_md5"),
        "ok",
    )


ORACLE_SUBTITLES_EXTRACT = """
WITH norm AS (
  -- mirror the synthesizer's deterministic input normalization:
  -- markup-special characters -> '-', whitespace runs -> one space
  SELECT doc_id,
         trim(regexp_replace(
           regexp_replace(COALESCE(text, ''),
                          '[<>{}&@DIVERGENT@]', '-', 'g'),
           '\\s+', ' ', 'g'
         )) AS text
  FROM documents
), base AS (
  SELECT doc_id,
         LEAST(CAST(1 + length(text) % 3 AS INT),
               CAST(len(string_split(text, ' ')) AS INT)) AS n,
         string_split(text, ' ') AS ws
  FROM norm
), tok AS (
  SELECT doc_id, n, CAST(t.i AS INT) AS i,
         ws[CAST(t.i + 1 AS INT)] AS word
  FROM base, unnest(range(len(ws))) AS t(i)
), unit AS (
  SELECT doc_id, n, CAST(i % n AS INT) AS u,
         string_agg(word, ' ' ORDER BY i) AS utext
  FROM tok GROUP BY doc_id, n, (i % n)
), doc AS (
  -- empty cues emit nothing (the extractor skips blank cue text)
  SELECT doc_id,
         COALESCE(
           string_agg(utext, chr(10) ORDER BY u)
             FILTER (WHERE utext <> ''),
           ''
         ) AS text
  FROM unit GROUP BY doc_id
)
SELECT doc_id,
       CASE WHEN doc_id % 2 = 0 THEN 'srt' ELSE 'vtt' END AS kind,
       CAST(length(text) AS INT) AS n_chars,
       md5(text) AS text_md5, TRUE AS ok
FROM doc
""".replace("@DIVERGENT@", _DIVERGENT_RE2)


def q_code_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-code modality (round 13): per doc a REAL source file,
    the language rotating on ``doc_id % 3`` — a Python module
    (shebang, hash comments, a ``#``-inside-string pin), a C file
    (``#include`` counting as CODE, a TWO-LINE ``/* */`` header
    block, a ``//``-inside-string pin), and a JavaScript module
    (``import … from``, ``export function``, ``//`` comments) —
    each with ``1 + len(text) % 3`` function blocks (words
    round-robin) carrying a comment line AND a string literal of
    the same words. Detected and line-classified through the
    comment/string-aware scanner (``functions/code.py``), text kept
    LOSSLESS. The oracle rebuilds each exact file in SQL (md5) and
    the per-language closed-form line stats, so detection, BOTH
    comment families, the block-comment state machine, and the
    lossless contract are value-pinned corpus-wide."""
    from .functions import code as cd

    docs = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    feats = cd.code_text_features(cd.synthesize_code_from_text(docs))
    return feats.select(
        "doc_id",
        "lang",
        F.col("n_lines").cast("int").alias("n_lines"),
        F.col("comment_lines").cast("int").alias("comment_lines"),
        F.col("blank_lines").cast("int").alias("blank_lines"),
        F.col("code_lines").cast("int").alias("code_lines"),
        F.col("max_line_len").cast("int").alias("max_line_len"),
        F.md5(F.col("text")).alias("text_md5"),
        "ok",
    )


ORACLE_CODE_EXTRACT = """
WITH norm AS (
  -- mirror the synthesizer's deterministic input normalization:
  -- line-grammar characters (#, quotes, backslash, * and /) ->
  -- '-', whitespace runs -> one space
  SELECT doc_id,
         trim(regexp_replace(
           regexp_replace(COALESCE(text, ''),
                          '[#"''\\\\*/@DIVERGENT@]', '-', 'g'),
           '\\s+', ' ', 'g'
         )) AS text
  FROM documents
), base AS (
  SELECT doc_id,
         LEAST(CAST(1 + length(text) % 3 AS INT),
               CAST(len(string_split(text, ' ')) AS INT)) AS n,
         string_split(text, ' ') AS ws
  FROM norm
), tok AS (
  SELECT doc_id, n, CAST(t.i AS INT) AS i,
         ws[CAST(t.i + 1 AS INT)] AS word
  FROM base, unnest(range(len(ws))) AS t(i)
), unit AS (
  SELECT doc_id, n, CAST(i % n AS INT) AS u,
         string_agg(word, ' ' ORDER BY i) AS utext
  FROM tok GROUP BY doc_id, n, (i % n)
), doc AS (
  -- the exact file encode_code writes per language (doc_id % 3
  -- rotates python / c / javascript): header, one function block
  -- per unit, string-aware footer
  SELECT doc_id,
         CASE doc_id % 3
           WHEN 0 THEN
             '#!/usr/bin/env python' || chr(10)
             || '# Module d' || CAST(doc_id AS VARCHAR) || chr(10)
             || 'import os' || chr(10) || chr(10) || chr(10)
           WHEN 1 THEN
             '#include <stdio.h>' || chr(10)
             || '/* Module d' || CAST(doc_id AS VARCHAR) || chr(10)
             || '   two-line header note */' || chr(10) || chr(10)
           ELSE
             'import fs from ''fs''' || chr(10)
             || '// Module d' || CAST(doc_id AS VARCHAR)
             || chr(10) || chr(10)
         END
         || string_agg(
              CASE doc_id % 3
                WHEN 0 THEN
                  'def f' || CAST(u AS VARCHAR) || '():' || chr(10)
                  || '    # ' || utext || chr(10)
                  || '    s = "' || utext || '"' || chr(10)
                  || '    return s + os.sep'
                  || chr(10) || chr(10) || chr(10)
                WHEN 1 THEN
                  'int f' || CAST(u AS VARCHAR) || '(void) {'
                  || chr(10)
                  || '    /* ' || utext || ' */' || chr(10)
                  || '    const char *s = "' || utext || '";'
                  || chr(10)
                  || '    return 0;' || chr(10)
                  || '}' || chr(10) || chr(10)
                ELSE
                  'export function f' || CAST(u AS VARCHAR)
                  || '() {' || chr(10)
                  || '  // ' || utext || chr(10)
                  || '  const s' || CAST(u AS VARCHAR) || ' = "'
                  || utext || '"' || chr(10)
                  || '  return s' || CAST(u AS VARCHAR)
                  || '.length' || chr(10)
                  || '}' || chr(10) || chr(10)
              END,
              '' ORDER BY u)
         || CASE doc_id % 3
              WHEN 0 THEN
                'S = "hash # inside string stays code"' || chr(10)
                || '# done trailing comment'
              WHEN 1 THEN
                'const char *S = "hash // inside string stays code";'
                || chr(10) || '// done trailing comment'
              ELSE
                'const S = "hash // inside string stays code"'
                || chr(10) || '// done trailing comment'
            END AS text,
         MAX(n) AS n,
         MAX(length(utext)) AS maxul
  FROM unit GROUP BY doc_id
)
SELECT doc_id,
       CASE doc_id % 3 WHEN 0 THEN 'python' WHEN 1 THEN 'c'
            ELSE 'javascript' END AS lang,
       CAST(CASE doc_id % 3 WHEN 0 THEN 7 + 6 * n
            WHEN 1 THEN 6 + 6 * n ELSE 5 + 6 * n END AS INT)
         AS n_lines,
       CAST(CASE doc_id % 3 WHEN 0 THEN 3 + n
            WHEN 1 THEN 3 + n ELSE 2 + n END AS INT)
         AS comment_lines,
       CAST(CASE doc_id % 3 WHEN 0 THEN 2 + 2 * n
            ELSE 1 + n END AS INT) AS blank_lines,
       CAST(CASE doc_id % 3 WHEN 0 THEN 2 + 3 * n
            ELSE 2 + 4 * n END AS INT) AS code_lines,
       -- closed-form longest line: the per-language fixed maximum
       -- vs the id-bearing header vs the longest unit's string line
       CAST(CASE doc_id % 3
            WHEN 0 THEN GREATEST(
              37, 10 + length(CAST(doc_id AS VARCHAR)), 10 + maxul)
            WHEN 1 THEN GREATEST(
              51, 11 + length(CAST(doc_id AS VARCHAR)), 23 + maxul)
            ELSE GREATEST(
              44, 11 + length(CAST(doc_id AS VARCHAR)), 15 + maxul)
            END AS INT) AS max_line_len,
       md5(text) AS text_md5, TRUE AS ok
FROM doc
""".replace("@DIVERGENT@", _DIVERGENT_RE2)


def q_tabular_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tabular modality (round 13): per doc a REAL data file —
    ``1 + len(text) % 3`` records (words round-robin), CSV for even
    doc_ids (bare header, ALWAYS-QUOTED words cells so commas in
    content exercise RFC 4180 quoting, a fixed record with a
    doubled embedded quote + comma, a fixed record with an embedded
    NEWLINE inside its quoted cell) and JSONL for odd (int + string
    per record, a fixed object with bool / null-that-vanishes /
    nested array) — flattened through the quote-aware readers
    (``functions/tabular.py``), the dispatch being the same sniff
    the universal router uses. Every 23rd document (``doc_id % 23
    == 7``) is rendered RAGGED (a 3-field row under a 2-field
    header) or MALFORMED (an object-shaped non-JSON line), so the
    per-document typed quarantine is driver-gated too: those rows
    must come back ``(kind, NULL, NULL, ok=false)`` while every
    sibling extracts."""
    from .functions import tabular as tb

    docs = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    feats = tb.tabular_text_features(
        tb.synthesize_tabular_from_text(docs, poison_mod=23)
    )
    return feats.select(
        "doc_id",
        "kind",
        F.col("n_rows").cast("int").alias("n_rows"),
        F.md5(F.col("text")).alias("text_md5"),
        "ok",
    )


ORACLE_TABULAR_EXTRACT = """
WITH norm AS (
  -- mirror the synthesizer's deterministic input normalization:
  -- quoting-grammar characters -> '-' (commas deliberately
  -- survive), whitespace runs -> one space
  SELECT doc_id,
         trim(regexp_replace(
           regexp_replace(COALESCE(text, ''),
                          '["''\\\\@DIVERGENT@]', '-', 'g'),
           '\\s+', ' ', 'g'
         )) AS text
  FROM documents
), base AS (
  SELECT doc_id,
         LEAST(CAST(1 + length(text) % 3 AS INT),
               CAST(len(string_split(text, ' ')) AS INT)) AS n,
         string_split(text, ' ') AS ws
  FROM norm
), tok AS (
  SELECT doc_id, n, CAST(t.i AS INT) AS i,
         ws[CAST(t.i + 1 AS INT)] AS word
  FROM base, unnest(range(len(ws))) AS t(i)
), unit AS (
  SELECT doc_id, n, CAST(i % n AS INT) AS u,
         string_agg(word, ' ' ORDER BY i) AS utext
  FROM tok GROUP BY doc_id, n, (i % n)
), doc AS (
  -- the exact flattened text the readers produce (an empty record
  -- keeps its id cell only — the flatten strips the edge space)
  SELECT doc_id,
         CASE WHEN doc_id % 2 = 0 THEN
           'rid words' || chr(10)
           || string_agg(
                'r' || CAST(u AS VARCHAR)
                || CASE WHEN utext <> '' THEN ' ' || utext
                        ELSE '' END,
                chr(10) ORDER BY u)
           || chr(10) || 'rq she said "hi", ok'
           || chr(10) || 'rn line one line two'
         ELSE
           string_agg(
                CAST(u AS VARCHAR)
                || CASE WHEN utext <> '' THEN ' ' || utext
                        ELSE '' END,
                chr(10) ORDER BY u)
           || chr(10) || '99 true a b'
         END AS text,
         MAX(n) AS n
  FROM unit GROUP BY doc_id
)
SELECT doc_id,
       CASE WHEN doc_id % 2 = 0 THEN 'csv' ELSE 'jsonl' END AS kind,
       CASE WHEN doc_id % 23 = 7 THEN NULL
            WHEN doc_id % 2 = 0 THEN CAST(n + 3 AS INT)
            ELSE CAST(n + 1 AS INT) END AS n_rows,
       CASE WHEN doc_id % 23 = 7 THEN NULL ELSE md5(text) END
         AS text_md5,
       doc_id % 23 <> 7 AS ok
FROM doc
""".replace("@DIVERGENT@", _DIVERGENT_RE2)


def q_parquet_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet modality (round 13): per doc a REAL two-column
    parquet file (int64 ``rid`` + string ``words``, one row per
    unit, plus a trailing NULL-words row that must vanish in the
    flatten), written with pyarrow in the kernel and read back
    through :func:`..tabular.parquet_to_text` — the columnar
    container every shared drive carries, routed by the PAR1 magic
    in the universal router. The oracle rebuilds the flattened text
    and shape in SQL, so the header line, row flatten, numeric
    rendering, and null-vanish rule are value-pinned corpus-wide."""
    from .functions import tabular as tb

    docs = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    feats = tb.parquet_text_features(
        tb.synthesize_parquet_from_text(docs)
    )
    return feats.select(
        "doc_id",
        F.col("n_rows").cast("int").alias("n_rows"),
        F.col("n_cols").cast("int").alias("n_cols"),
        F.md5(F.col("text")).alias("text_md5"),
        "ok",
    )


ORACLE_PARQUET_EXTRACT = """
WITH norm AS (
  SELECT doc_id,
         trim(regexp_replace(
           regexp_replace(COALESCE(text, ''),
                          '["''\\\\@DIVERGENT@]', '-', 'g'),
           '\\s+', ' ', 'g'
         )) AS text
  FROM documents
), base AS (
  SELECT doc_id,
         LEAST(CAST(1 + length(text) % 3 AS INT),
               CAST(len(string_split(text, ' ')) AS INT)) AS n,
         string_split(text, ' ') AS ws
  FROM norm
), tok AS (
  SELECT doc_id, n, CAST(t.i AS INT) AS i,
         ws[CAST(t.i + 1 AS INT)] AS word
  FROM base, unnest(range(len(ws))) AS t(i)
), unit AS (
  SELECT doc_id, n, CAST(i % n AS INT) AS u,
         string_agg(word, ' ' ORDER BY i) AS utext
  FROM tok GROUP BY doc_id, n, (i % n)
), doc AS (
  -- header line, one flattened row per unit (an empty words cell
  -- keeps the rid alone), the null-words row flattens to its rid
  SELECT doc_id,
         'rid words' || chr(10)
         || string_agg(
              CAST(u AS VARCHAR)
              || CASE WHEN utext <> '' THEN ' ' || utext
                      ELSE '' END,
              chr(10) ORDER BY u)
         || chr(10) || '99' AS text,
         MAX(n) AS n
  FROM unit GROUP BY doc_id
)
SELECT doc_id,
       CAST(n + 1 AS INT) AS n_rows,
       2 AS n_cols,
       md5(text) AS text_md5, TRUE AS ok
FROM doc
""".replace("@DIVERGENT@", _DIVERGENT_RE2)


def q_compressed_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressed-transport modality (round 13): per doc an inner
    document rotating over four text families on ``doc_id % 4``
    (markdown, python code, CSV, JSONL), wrapped in gzip / bzip2 /
    xz on ``doc_id % 3``, extracted through the universal router's
    bounded decompression front (``functions/doctext.py``
    extract_document_text — 64 MiB bomb guard, composed kinds like
    ``'gz:md'``, at most two layers). Every 23rd document is a
    TRUNCATED gzip stream, so the decompression quarantine is
    driver-gated: those rows come back ``('gz', NULL, NULL,
    ok=false)`` while every sibling decompresses, re-sniffs, and
    extracts. The oracle rebuilds each inner family's exact
    extracted text in SQL under ONE shared unit pipeline."""
    from .functions import doctext as dt

    docs = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    synth = dt.synthesize_compressed_from_text(docs)
    feats = dt.document_text_features(synth)
    return feats.select(
        "doc_id",
        "kind",
        F.col("n_chars").cast("int").alias("n_chars"),
        F.md5(F.col("text")).alias("text_md5"),
        "ok",
    )


ORACLE_COMPRESSED_EXTRACT = """
WITH norm AS (
  -- the UNION of the four inner families' normalization classes
  SELECT doc_id,
         trim(regexp_replace(
           regexp_replace(COALESCE(text, ''),
                          '[\\\\`*_\\[\\]()#!<>~|"''/@DIVERGENT@]',
                          '-', 'g'),
           '\\s+', ' ', 'g'
         )) AS text
  FROM documents
), base AS (
  SELECT doc_id,
         LEAST(CAST(1 + length(text) % 3 AS INT),
               CAST(len(string_split(text, ' ')) AS INT)) AS n,
         string_split(text, ' ') AS ws
  FROM norm
), tok AS (
  SELECT doc_id, n, CAST(t.i AS INT) AS i,
         ws[CAST(t.i + 1 AS INT)] AS word
  FROM base, unnest(range(len(ws))) AS t(i)
), unit AS (
  SELECT doc_id, n, CAST(i % n AS INT) AS u,
         string_agg(word, ' ' ORDER BY i) AS utext
  FROM tok GROUP BY doc_id, n, (i % n)
), doc AS (
  SELECT doc_id,
         CASE doc_id % 4
           WHEN 0 THEN
             -- markdown: headings + fixed tail (no title)
             string_agg('Section ' || CAST(u AS VARCHAR)
                        || CASE WHEN utext <> '' THEN chr(10) || utext
                                ELSE '' END,
                        chr(10) ORDER BY u)
             || chr(10) || 'quoted line'
             || chr(10) || 'item one'
             || chr(10) || 'item two'
             || chr(10) || 'Col A Col B'
             || chr(10) || 'cell one cell two'
             || chr(10) || 'code **stays** [verbatim](x)'
           WHEN 1 THEN
             -- python module (lossless)
             '#!/usr/bin/env python' || chr(10)
             || '# Module d' || CAST(doc_id AS VARCHAR) || chr(10)
             || 'import os' || chr(10) || chr(10) || chr(10)
             || string_agg(
                  'def f' || CAST(u AS VARCHAR) || '():' || chr(10)
                  || '    # ' || utext || chr(10)
                  || '    s = "' || utext || '"' || chr(10)
                  || '    return s + os.sep'
                  || chr(10) || chr(10) || chr(10),
                  '' ORDER BY u)
             || 'S = "hash # inside string stays code"' || chr(10)
             || '# done trailing comment'
           WHEN 2 THEN
             -- csv flatten
             'rid words' || chr(10)
             || string_agg(
                  'r' || CAST(u AS VARCHAR)
                  || CASE WHEN utext <> '' THEN ' ' || utext
                          ELSE '' END,
                  chr(10) ORDER BY u)
             || chr(10) || 'rq she said "hi", ok'
             || chr(10) || 'rn line one line two'
           ELSE
             -- jsonl flatten
             string_agg(
                  CAST(u AS VARCHAR)
                  || CASE WHEN utext <> '' THEN ' ' || utext
                          ELSE '' END,
                  chr(10) ORDER BY u)
             || chr(10) || '99 true a b'
         END AS text
  FROM unit GROUP BY doc_id
)
SELECT doc_id,
       CASE WHEN doc_id % 23 = 7 THEN 'gz'
            ELSE
              (CASE doc_id % 3 WHEN 0 THEN 'gz' WHEN 1 THEN 'bz2'
                    ELSE 'xz' END)
              || ':'
              || (CASE doc_id % 4 WHEN 0 THEN 'md' WHEN 1 THEN 'code'
                       WHEN 2 THEN 'csv' ELSE 'jsonl' END)
       END AS kind,
       CASE WHEN doc_id % 23 = 7 THEN NULL
            ELSE CAST(length(text) AS INT) END AS n_chars,
       CASE WHEN doc_id % 23 = 7 THEN NULL ELSE md5(text) END
         AS text_md5,
       doc_id % 23 <> 7 AS ok
FROM doc
""".replace("@DIVERGENT@", _DIVERGENT_RE2)


def q_notebook_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Notebook modality (round 13): per doc a REAL nbformat-4
    Jupyter notebook — per unit a MARKDOWN cell (ATX heading +
    paragraph, so the markdown extractor runs inside the notebook
    walk) and a CODE cell (list-of-lines source per the nbformat
    convention, carrying a stream OUTPUT that must be ignored),
    plus a trailing raw cell — extracted through
    ``functions/notebook.py`` (code cells verbatim, markdown cells
    through the CommonMark-core extractor, outputs dropped). The
    oracle rebuilds the exact extracted text and cell counts in
    SQL, so the cell walk, the in-notebook markdown pass, the
    output-ignoring rule, and the lossless code contract are
    value-pinned corpus-wide."""
    from .functions import notebook as nbk

    docs = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    feats = nbk.notebook_text_features(
        nbk.synthesize_ipynb_from_text(docs)
    )
    return feats.select(
        "doc_id",
        F.col("n_cells").cast("int").alias("n_cells"),
        F.col("n_code_cells").cast("int").alias("n_code_cells"),
        F.md5(F.col("text")).alias("text_md5"),
        "ok",
    )


ORACLE_NOTEBOOK_EXTRACT = """
WITH norm AS (
  -- the markdown + code union normalization class
  SELECT doc_id,
         trim(regexp_replace(
           regexp_replace(COALESCE(text, ''),
                          '[\\\\`*_\\[\\]()#!<>~|"''/@DIVERGENT@]',
                          '-', 'g'),
           '\\s+', ' ', 'g'
         )) AS text
  FROM documents
), base AS (
  SELECT doc_id,
         LEAST(CAST(1 + length(text) % 3 AS INT),
               CAST(len(string_split(text, ' ')) AS INT)) AS n,
         string_split(text, ' ') AS ws
  FROM norm
), tok AS (
  SELECT doc_id, n, CAST(t.i AS INT) AS i,
         ws[CAST(t.i + 1 AS INT)] AS word
  FROM base, unnest(range(len(ws))) AS t(i)
), unit AS (
  SELECT doc_id, n, CAST(i % n AS INT) AS u,
         string_agg(word, ' ' ORDER BY i) AS utext
  FROM tok GROUP BY doc_id, n, (i % n)
), doc AS (
  -- per unit: the markdown cell's extracted heading+paragraph,
  -- then the code cell verbatim; the raw tail closes the notebook
  SELECT doc_id,
         string_agg(
              'Cell ' || CAST(u AS VARCHAR) || chr(10)
              || 'md' || CAST(u AS VARCHAR)
              || CASE WHEN utext <> '' THEN ' ' || utext
                      ELSE '' END
              || chr(10)
              || 'x' || CAST(u AS VARCHAR) || ' = "' || utext || '"'
              || chr(10) || '# trailing ' || CAST(u AS VARCHAR),
              chr(10) ORDER BY u)
         || chr(10) || 'raw tail d' || CAST(doc_id AS VARCHAR)
           AS text,
         MAX(n) AS n
  FROM unit GROUP BY doc_id
)
SELECT doc_id,
       CAST(2 * n + 1 AS INT) AS n_cells,
       CAST(n AS INT) AS n_code_cells,
       md5(text) AS text_md5, TRUE AS ok
FROM doc
""".replace("@DIVERGENT@", _DIVERGENT_RE2)


def q_email_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Email modality (round 13): per doc a REAL multipart MIME
    message — fixed From/To/Date headers that must VANISH, a
    Subject that must survive as the first line, and for even
    doc_ids a QUOTED-PRINTABLE ``text/plain`` part (one paragraph
    per unit — the transfer-decode pin) beside a ``text/html``
    sibling that must be IGNORED while the plain part exists, while
    odd doc_ids carry ONLY the html part, whose extraction through
    the shared html pipeline must then be used — extracted via the
    stdlib mail walk (``functions/eml.py``). The oracle rebuilds
    the exact text in SQL, so header dropping, part preference,
    transfer decoding, and the html fallback are value-pinned
    corpus-wide."""
    from .functions import eml as em

    docs = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    feats = em.eml_text_features(em.synthesize_eml_from_text(docs))
    return feats.select(
        "doc_id",
        F.col("n_chars").cast("int").alias("n_chars"),
        F.md5(F.col("text")).alias("text_md5"),
        "ok",
    )


ORACLE_EMAIL_EXTRACT = """
WITH norm AS (
  -- mirror the synthesizer's normalization: markup/header-special
  -- characters -> '-', whitespace runs -> one space
  SELECT doc_id,
         trim(regexp_replace(
           regexp_replace(COALESCE(text, ''),
                          '[<>&=:"''\\\\@DIVERGENT@]', '-', 'g'),
           '\\s+', ' ', 'g'
         )) AS text
  FROM documents
), base AS (
  SELECT doc_id,
         LEAST(CAST(1 + length(text) % 3 AS INT),
               CAST(len(string_split(text, ' ')) AS INT)) AS n,
         string_split(text, ' ') AS ws
  FROM norm
), tok AS (
  SELECT doc_id, n, CAST(t.i AS INT) AS i,
         ws[CAST(t.i + 1 AS INT)] AS word
  FROM base, unnest(range(len(ws))) AS t(i)
), unit AS (
  SELECT doc_id, CAST(i % n AS INT) AS u,
         string_agg(word, ' ' ORDER BY i) AS utext
  FROM tok GROUP BY doc_id, n, (i % n)
), doc AS (
  -- subject line, then one line per non-empty unit (empty units
  -- vanish under the paragraph contract)
  SELECT doc_id,
         'Doc ' || CAST(doc_id AS VARCHAR)
         || COALESCE(
              chr(10) || string_agg(utext, chr(10) ORDER BY u)
                FILTER (WHERE utext <> ''),
              ''
            ) AS text
  FROM unit GROUP BY doc_id
)
SELECT doc_id, CAST(length(text) AS INT) AS n_chars,
       md5(text) AS text_md5, TRUE AS ok
FROM doc
""".replace("@DIVERGENT@", _DIVERGENT_RE2)


def q_log_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-file modality (round 13): per doc a REAL log file, the
    dialect rotating on ``doc_id % 6`` — BSD syslog (RFC 3164
    layout; the unit is the message, no severity), an ISO-timestamp
    application log (level cycling INFO/WARN/ERROR on the unit
    index, a ``[svc]`` component token that must DROP, and an
    indented continuation line after every ERROR that must ATTACH
    to its message — the traceback pin), NCSA Common Log Format
    (the quoted request line is the message; status cycling
    200/404/500 drives the warn/error classes), RFC 5424 versioned
    syslog (five header fields + a structured-data element that
    must all VANISH; severity classed straight from ``pri & 7``),
    logfmt (ts/svc pairs vanish, ``level`` cycles, the unit rides a
    QUOTED ``msg`` value — the quote-aware unescape pin), and a
    JSON-structured log (bunyan/pino shape: time/svc/pid members
    vanish, ``msg`` is the message — and since the sniff needs two
    logging-staple keys, a DATA jsonl file still routes tabular) —
    extracted through the header/continuation scanner
    (``functions/logtext.py``).
    Every 23rd document (``doc_id % 23 == 7``) is a NUL-carrying
    binary blob, so the typed quarantine is driver-gated: those
    rows come back all-NULL with ``ok=false`` while every sibling
    extracts. The oracle rebuilds the exact message text per
    dialect in SQL (md5) plus the closed-form line/message/level
    counters, so header dropping, continuation attachment, level
    classing, and the quarantine are value-pinned corpus-wide."""
    from .functions import logtext as lg

    docs = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    feats = lg.log_text_features(
        lg.synthesize_log_from_text(docs, poison_mod=23)
    )
    return feats.select(
        "doc_id",
        "dialect",
        F.col("n_lines").cast("int").alias("n_lines"),
        F.col("n_messages").cast("int").alias("n_messages"),
        F.col("n_error").cast("int").alias("n_error"),
        F.col("n_warn").cast("int").alias("n_warn"),
        F.md5(F.col("text")).alias("text_md5"),
        "ok",
    )


ORACLE_LOG_EXTRACT = """
WITH norm AS (
  -- mirror the synthesizer's deterministic input normalization:
  -- line-grammar characters (quotes, brackets, backslash) -> '-',
  -- whitespace runs -> one space
  SELECT doc_id,
         trim(regexp_replace(
           regexp_replace(COALESCE(text, ''),
                          '["\\[\\]\\\\@DIVERGENT@]', '-', 'g'),
           '\\s+', ' ', 'g'
         )) AS text
  FROM documents
), base AS (
  SELECT doc_id,
         LEAST(CAST(1 + length(text) % 3 AS INT),
               CAST(len(string_split(text, ' ')) AS INT)) AS n,
         string_split(text, ' ') AS ws
  FROM norm
), tok AS (
  SELECT doc_id, n, CAST(t.i AS INT) AS i,
         ws[CAST(t.i + 1 AS INT)] AS word
  FROM base, unnest(range(len(ws))) AS t(i)
), unit AS (
  SELECT doc_id, n, CAST(i % n AS INT) AS u,
         string_agg(word, ' ' ORDER BY i) AS utext
  FROM tok GROUP BY doc_id, n, (i % n)
), doc AS (
  -- the exact message text log_to_text extracts per dialect
  -- (doc_id % 6 rotates syslog / iso / clf / syslog5424 / logfmt
  -- / jsonlog): the unit itself, the unit with the ERROR
  -- continuation attached, or the rebuilt request line
  SELECT doc_id,
         CASE doc_id % 6
           WHEN 1 THEN string_agg(
                CASE WHEN u % 3 = 2
                     THEN ltrim(utext || ' at fixture.py:42, in run')
                     ELSE utext END,
                chr(10) ORDER BY u)
           WHEN 2 THEN string_agg(
                'GET /' || replace(utext, ' ', '-') || ' HTTP/1.1',
                chr(10) ORDER BY u)
           ELSE string_agg(utext, chr(10) ORDER BY u)
         END AS text,
         MAX(n) AS n
  FROM unit GROUP BY doc_id
)
SELECT doc_id,
       CASE WHEN doc_id % 23 = 7 THEN NULL
            WHEN doc_id % 6 = 0 THEN 'syslog'
            WHEN doc_id % 6 = 1 THEN 'iso'
            WHEN doc_id % 6 = 2 THEN 'clf'
            WHEN doc_id % 6 = 3 THEN 'syslog5424'
            WHEN doc_id % 6 = 4 THEN 'logfmt'
            ELSE 'jsonlog' END AS dialect,
       CASE WHEN doc_id % 23 = 7 THEN NULL
            WHEN doc_id % 6 = 1 THEN CAST(n + n // 3 AS INT)
            ELSE CAST(n AS INT) END AS n_lines,
       CASE WHEN doc_id % 23 = 7 THEN NULL
            ELSE CAST(n AS INT) END AS n_messages,
       CASE WHEN doc_id % 23 = 7 THEN NULL
            WHEN doc_id % 6 = 0 THEN 0
            ELSE CAST(n // 3 AS INT) END AS n_error,
       CASE WHEN doc_id % 23 = 7 THEN NULL
            WHEN doc_id % 6 = 0 THEN 0
            ELSE CAST((n + 1) // 3 AS INT) END AS n_warn,
       CASE WHEN doc_id % 23 = 7 THEN NULL ELSE md5(text) END
         AS text_md5,
       doc_id % 23 <> 7 AS ok
FROM doc
""".replace("@DIVERGENT@", _DIVERGENT_RE2)


def q_feed_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Syndication-feed modality (round 13): per doc a REAL feed —
    RSS 2.0 for even doc_ids (channel plumbing that must VANISH,
    the channel title surviving first, one ``<item>`` per unit
    whose description carries HTML-ESCAPED ``<p>`` markup — the
    entity-decode + html-strip pin — beside guid/link/pubDate
    noise) and Atom for odd (namespaced root, id/updated/author
    plumbing, plain-text summaries — the text body path) —
    extracted through the grammar-aware walk (``functions/
    feeds.py``), which the router checks BEFORE the generic XML
    route precisely so this plumbing cannot enter the corpus as
    prose. Every 23rd document (``doc_id % 23 == 7``) is an
    unparseable feed-shaped blob, so the typed quarantine is
    driver-gated: those rows come back all-NULL with ``ok=false``
    while every sibling extracts. The oracle rebuilds the exact
    title/entry text in SQL (md5) plus the entry count, so
    plumbing removal, both grammars, and the escaped-markup path
    are value-pinned corpus-wide."""
    from .functions import feeds as fd

    docs = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    feats = fd.feed_text_features(
        fd.synthesize_feed_from_text(docs, poison_mod=23)
    )
    return feats.select(
        "doc_id",
        "grammar",
        F.col("n_entries").cast("int").alias("n_entries"),
        F.md5(F.col("text")).alias("text_md5"),
        "ok",
    )


ORACLE_FEED_EXTRACT = """
WITH norm AS (
  -- mirror the synthesizer's deterministic input normalization:
  -- markup specials -> '-', whitespace runs -> one space
  SELECT doc_id,
         trim(regexp_replace(
           regexp_replace(COALESCE(text, ''),
                          '[<>&"''\\\\@DIVERGENT@]', '-', 'g'),
           '\\s+', ' ', 'g'
         )) AS text
  FROM documents
), base AS (
  SELECT doc_id,
         LEAST(CAST(1 + length(text) % 3 AS INT),
               CAST(len(string_split(text, ' ')) AS INT)) AS n,
         string_split(text, ' ') AS ws
  FROM norm
), tok AS (
  SELECT doc_id, n, CAST(t.i AS INT) AS i,
         ws[CAST(t.i + 1 AS INT)] AS word
  FROM base, unnest(range(len(ws))) AS t(i)
), unit AS (
  SELECT doc_id, n, CAST(i % n AS INT) AS u,
         string_agg(word, ' ' ORDER BY i) AS utext
  FROM tok GROUP BY doc_id, n, (i % n)
), doc AS (
  -- feed title first, then per unit its entry title and (when
  -- non-empty) its body — both grammars collapse to the same lines
  SELECT doc_id,
         'Feed d' || CAST(doc_id AS VARCHAR)
         || string_agg(
              chr(10) || 'Entry ' || CAST(u AS VARCHAR)
              || CASE WHEN utext <> '' THEN chr(10) || utext
                      ELSE '' END,
              '' ORDER BY u) AS text,
         MAX(n) AS n
  FROM unit GROUP BY doc_id
)
SELECT doc_id,
       CASE WHEN doc_id % 23 = 7 THEN NULL
            WHEN doc_id % 2 = 0 THEN 'rss'
            ELSE 'atom' END AS grammar,
       CASE WHEN doc_id % 23 = 7 THEN NULL
            ELSE CAST(n AS INT) END AS n_entries,
       CASE WHEN doc_id % 23 = 7 THEN NULL ELSE md5(text) END
         AS text_md5,
       doc_id % 23 <> 7 AS ok
FROM doc
""".replace("@DIVERGENT@", _DIVERGENT_RE2)


def q_ics_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar modality (round 13): per doc a REAL iCalendar file
    — calendar plumbing (PRODID), one VEVENT per unit with DTSTART/
    RRULE/UID/ORGANIZER noise that must VANISH, a SUMMARY that must
    survive, a DESCRIPTION carrying the unit behind an ESCAPED
    comma and an RFC 5545 §3.1 FOLDED line (unfold-then-unescape
    pins), and a nested VALARM whose DESCRIPTION must drop —
    extracted through the envelope walk (``functions/calendar.py``).
    Every 23rd document (``doc_id % 23 == 7``) is a vCard dump, so
    the PRIVACY quarantine — contact dumps are PII by construction,
    never corpus text — is driver-gated: those rows come back
    all-NULL with ``ok=false`` while every sibling extracts. The
    oracle rebuilds the exact prose in SQL (md5) plus the event
    count, so plumbing removal, unfolding, unescaping, VALARM
    dropping, and the privacy policy are value-pinned
    corpus-wide."""
    from .functions import calendar as ca

    docs = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    feats = ca.ics_text_features(
        ca.synthesize_ics_from_text(docs, poison_mod=23)
    )
    return feats.select(
        "doc_id",
        F.col("n_events").cast("int").alias("n_events"),
        F.md5(F.col("text")).alias("text_md5"),
        "ok",
    )


ORACLE_ICS_EXTRACT = """
WITH norm AS (
  -- mirror the synthesizer's deterministic input normalization:
  -- value-grammar characters (backslash, semicolon, comma, colon)
  -- -> '-', whitespace runs -> one space
  SELECT doc_id,
         trim(regexp_replace(
           regexp_replace(COALESCE(text, ''),
                          '[\\\\;,:@DIVERGENT@]', '-', 'g'),
           '\\s+', ' ', 'g'
         )) AS text
  FROM documents
), base AS (
  SELECT doc_id,
         LEAST(CAST(1 + length(text) % 3 AS INT),
               CAST(len(string_split(text, ' ')) AS INT)) AS n,
         string_split(text, ' ') AS ws
  FROM norm
), tok AS (
  SELECT doc_id, n, CAST(t.i AS INT) AS i,
         ws[CAST(t.i + 1 AS INT)] AS word
  FROM base, unnest(range(len(ws))) AS t(i)
), unit AS (
  SELECT doc_id, n, CAST(i % n AS INT) AS u,
         string_agg(word, ' ' ORDER BY i) AS utext
  FROM tok GROUP BY doc_id, n, (i % n)
), doc AS (
  -- per unit: the SUMMARY line, then the unfolded + unescaped
  -- DESCRIPTION ('u<u>, that is: <unit>', trailing space trimmed
  -- for empty units)
  SELECT doc_id,
         string_agg(
              'Event ' || CAST(u AS VARCHAR) || chr(10)
              || trim('u' || CAST(u AS VARCHAR) || ', that is: '
                      || utext),
              chr(10) ORDER BY u) AS text,
         MAX(n) AS n
  FROM unit GROUP BY doc_id
)
SELECT doc_id,
       CASE WHEN doc_id % 23 = 7 THEN NULL
            ELSE CAST(n AS INT) END AS n_events,
       CASE WHEN doc_id % 23 = 7 THEN NULL ELSE md5(text) END
         AS text_md5,
       doc_id % 23 <> 7 AS ok
FROM doc
""".replace("@DIVERGENT@", _DIVERGENT_RE2)


def q_charset_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding transports (round 13): per doc the SAME logical
    document in a rotating encoding on ``doc_id % 4`` — plain
    UTF-8; the identical bytes BOM'd UTF-16-LE (the transport must
    decode STRICTLY, re-encode, re-sniff, and return
    byte-identical text under kind ``utf16le:text``); the markdown
    fixture BOM'd UTF-16-BE (the compose pin: ``utf16be:md`` runs
    the inner extractor AFTER the transport); and a cp1252 payload
    whose em-dash/ellipsis line would become U+FFFD under
    utf-8-replace (the UTF-8-strict → windows-1252 fallback pin).
    Every 23rd document is a BOM'd UTF-16 payload with a truncated
    trailing code unit, driver-gating the strict-transport
    quarantine. The oracle rebuilds the exact decoded text per
    slot in SQL (md5), so BOM stripping, both byte orders, the
    transport/extractor composition, and the legacy fallback are
    value-pinned corpus-wide."""
    from .functions import charset as cs
    from .functions import doctext as dt

    docs = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    feats = dt.document_text_features(
        cs.synthesize_charset_from_text(docs, poison_mod=23)
    )
    return feats.select(
        "doc_id",
        "kind",
        F.col("n_chars").cast("int").alias("n_chars"),
        F.md5(F.col("text")).alias("text_md5"),
        "ok",
    )


ORACLE_CHARSET_EXTRACT = """
WITH norm AS (
  -- mirror the synthesizer: non-printable-ASCII -> space, the
  -- markup-union class -> '-', whitespace runs -> one space
  SELECT doc_id,
         trim(regexp_replace(
           regexp_replace(
             regexp_replace(COALESCE(text, ''),
                            '[^\\x20-\\x7e]', ' ', 'g'),
             '[\\\\~^%&$#{}_<>`*\\[\\]()!|=:;''"/]', '-', 'g'),
           '\\s+', ' ', 'g'
         )) AS text
  FROM documents
), base AS (
  SELECT doc_id,
         LEAST(CAST(1 + length(text) % 3 AS INT),
               CAST(len(string_split(text, ' ')) AS INT)) AS n,
         string_split(text, ' ') AS ws
  FROM norm
), tok AS (
  SELECT doc_id, n, CAST(t.i AS INT) AS i,
         ws[CAST(t.i + 1 AS INT)] AS word
  FROM base, unnest(range(len(ws))) AS t(i)
), unit AS (
  SELECT doc_id, n, CAST(i % n AS INT) AS u,
         string_agg(word, ' ' ORDER BY i) AS utext
  FROM tok GROUP BY doc_id, n, (i % n)
), doc AS (
  SELECT doc_id,
         CASE
           WHEN doc_id % 4 = 2 THEN
             -- the markdown fixture's extracted text (the same
             -- shape the doctext_sweep oracle pins for family 8)
             string_agg('Section ' || CAST(u AS VARCHAR)
                        || CASE WHEN utext <> ''
                                THEN chr(10) || utext
                                ELSE '' END,
                        chr(10) ORDER BY u)
             || chr(10) || 'quoted line'
             || chr(10) || 'item one'
             || chr(10) || 'item two'
             || chr(10) || 'Col A Col B'
             || chr(10) || 'cell one cell two'
             || chr(10) || 'code **stays** [verbatim](x)'
           ELSE
             'charset fixture d' || CAST(doc_id AS VARCHAR)
             || chr(10) || string_agg(utext, chr(10) ORDER BY u)
             || CASE WHEN doc_id % 4 = 3
                     THEN chr(10) || 'café — legacy …'
                     ELSE '' END
         END AS text
  FROM unit GROUP BY doc_id
)
SELECT doc_id,
       CASE WHEN doc_id % 23 = 7 THEN 'utf16le'
            WHEN doc_id % 4 = 1 THEN 'utf16le:text'
            WHEN doc_id % 4 = 2 THEN 'utf16be:md'
            ELSE 'text' END AS kind,
       CASE WHEN doc_id % 23 = 7 THEN NULL
            ELSE CAST(length(text) AS INT) END AS n_chars,
       CASE WHEN doc_id % 23 = 7 THEN NULL ELSE md5(text) END
         AS text_md5,
       doc_id % 23 <> 7 AS ok
FROM doc
"""


def q_router_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Routing observability (round 13): the per-kind corpus report
    a production ingest watches for ROUTING DRIFT — the 19-family
    synthetic mix (every 23rd doc the PK poison blob) through the
    universal router, then ``groupBy(kind)`` with doc and ok
    counts. A sniff regression anywhere in the dispatch table moves
    a kind's count and fails the gate; the scale_probe prints this
    same histogram at ×100 precisely because silent routing drift
    otherwise reads as coverage. Unlike the row-level extraction
    gates this one pins the AGGREGATED routing outcome, so the
    partial-aggregate plan over kernel output is exercised too
    (map-side combine before the one extra Exchange; media bytes
    cross neither)."""
    from .functions import doctext as dt

    docs = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    synth = dt.synthesize_documents_from_text(
        docs, families=19
    ).withColumn(
        "media",
        F.when(
            F.col("doc_id") % 23 == 7,
            F.lit(b"PK\x03\x04 deterministic poison, not a zip"),
        ).otherwise(F.col("media")),
    )
    feats = dt.document_text_features(synth)
    return feats.groupBy("kind").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.col("ok").cast("long")).alias("n_ok"),
    )


ORACLE_ROUTER_REPORT = """
WITH routed AS (
  SELECT CASE WHEN doc_id % 23 = 7 THEN 'zip'
          ELSE CASE doc_id % 19
            WHEN 0 THEN 'pdf' WHEN 1 THEN 'docx' WHEN 2 THEN 'epub'
            WHEN 3 THEN 'pptx' WHEN 4 THEN 'odt' WHEN 5 THEN 'rtf'
            WHEN 6 THEN 'latex' WHEN 7 THEN 'html' WHEN 8 THEN 'md'
            WHEN 9 THEN 'wiki' WHEN 10 THEN 'srt' WHEN 11 THEN 'vtt'
            WHEN 12 THEN 'code' WHEN 13 THEN 'csv'
            WHEN 14 THEN 'jsonl' WHEN 15 THEN 'ipynb'
            WHEN 16 THEN 'eml' WHEN 17 THEN 'log'
            ELSE 'feed' END
         END AS kind,
         CASE WHEN doc_id % 23 = 7 THEN 0 ELSE 1 END AS ok
  FROM documents
)
SELECT kind,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(ok) AS BIGINT) AS n_ok
FROM routed GROUP BY kind
"""


def q_av_transcript_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AV sidecar pairing (round 13): per doc a REAL in-memory
    WebDataset tar shard — a metadata-only MP4 plus an SRT (even
    doc_ids) / WebVTT (odd) transcript under the shared basename
    key — walked by the SAME member split the binaryFile reader
    uses, paired inside the shard task, media metadata parsed and
    the transcript extracted in ONE kernel
    (``functions/multimodal.py`` av_sample_features). Sparse and
    poison samples gate the pairing contract: every ``% 17 == 3``
    doc has no transcript, every ``% 19 == 5`` doc no media (both
    → ``paired=false`` with the present half still extracted), and
    every ``% 23 == 7`` doc's mp4 is a poison blob (→ ``ok=false``
    typed, transcript still extracted). The oracle replays pairing
    counts, the mp4 field formulas, and the transcript md5 in SQL.
    Bytes never cross an Exchange — members of a sample live in the
    same tar, so pairing needs no shuffle (deliberately NOT the
    generic tar_samples pivot)."""
    from .functions import multimodal as mm

    docs = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    feats = mm.av_sample_features(mm.synthesize_av_tar_from_text(docs))
    return feats.select(
        F.expr("CAST(substring(key, 2) AS BIGINT)").alias("doc_id"),
        F.col("n_members").cast("int").alias("n_members"),
        "paired",
        "kind",
        F.col("width").cast("int").alias("width"),
        F.col("height").cast("int").alias("height"),
        "duration_s",
        F.col("n_chars").cast("int").alias("n_chars"),
        F.md5(F.col("text")).alias("text_md5"),
        "ok",
    )


ORACLE_AV_TRANSCRIPT_PAIRS = """
WITH norm AS (
  -- the subtitles family's normalization (markup specials -> '-',
  -- whitespace runs -> one space)
  SELECT doc_id,
         trim(regexp_replace(
           regexp_replace(COALESCE(text, ''),
                          '[<>{}&@DIVERGENT@]', '-', 'g'),
           '\\s+', ' ', 'g'
         )) AS text
  FROM documents
), base AS (
  SELECT doc_id, CAST(length(text) AS INT) AS n,
         LEAST(CAST(1 + length(text) % 3 AS INT),
               CAST(len(string_split(text, ' ')) AS INT)) AS nu,
         string_split(text, ' ') AS ws
  FROM norm
), tok AS (
  SELECT doc_id, nu, CAST(t.i AS INT) AS i,
         ws[CAST(t.i + 1 AS INT)] AS word
  FROM base, unnest(range(len(ws))) AS t(i)
), unit AS (
  SELECT doc_id, CAST(i % nu AS INT) AS u,
         string_agg(word, ' ' ORDER BY i) AS utext
  FROM tok GROUP BY doc_id, nu, (i % nu)
), cue AS (
  SELECT doc_id,
         COALESCE(
           string_agg(utext, chr(10) ORDER BY u)
             FILTER (WHERE utext <> ''),
           ''
         ) AS text
  FROM unit GROUP BY doc_id
), flags AS (
  SELECT b.doc_id, b.n, c.text,
         b.doc_id % 17 <> 3 AS has_sub,
         b.doc_id % 19 <> 5 AS has_mp4,
         b.doc_id % 23 = 7 AS poison
  FROM base b JOIN cue c USING (doc_id)
)
SELECT doc_id,
       CAST(CAST(has_sub AS INT) + CAST(has_mp4 AS INT) AS INT)
         AS n_members,
       has_sub AND has_mp4 AS paired,
       CASE WHEN NOT has_sub THEN NULL
            WHEN doc_id % 2 = 0 THEN 'srt' ELSE 'vtt' END AS kind,
       CASE WHEN has_mp4 AND NOT poison
            THEN CAST(8 + n % 9 AS INT) END AS width,
       CASE WHEN has_mp4 AND NOT poison
            THEN CAST(8 + n % 7 AS INT) END AS height,
       CASE WHEN has_mp4 AND NOT poison
            THEN CAST(1 + n % 30 AS DOUBLE) END AS duration_s,
       CASE WHEN has_sub THEN CAST(length(text) AS INT) END
         AS n_chars,
       CASE WHEN has_sub THEN md5(text) END AS text_md5,
       NOT (has_mp4 AND poison) AS ok
FROM flags
WHERE has_sub OR has_mp4
""".replace("@DIVERGENT@", _DIVERGENT_RE2)


def q_doctext_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Universal document-text router (built round 11, PROMOTED
    round 12, widened twice round 13): per doc a REAL document
    rotating over NINETEEN families on ``doc_id % 19`` (pdf, docx,
    epub, pptx, odt, rtf, latex, html — the original eight — plus
    markdown, wikitext, SRT, WebVTT, python code, CSV, JSONL, a
    Jupyter notebook, an RFC 5322 email, an ISO-dialect log file,
    and an RSS/Atom feed; ``1 + len(text) % 3`` units, words
    round-robin), then extraction through the ONE mixed-bag router
    (``functions/doctext.py`` — magic/layout/structural sniff
    dispatching to the zero-dependency extractors), so the router's
    WHOLE dispatch table sits under one driver row. Every 23rd
    document (``doc_id % 23 == 7``) is REPLACED by a deterministic
    poison blob (a PK magic that is not a zip), so the per-row
    TYPED QUARANTINE path — the router's headline contract — is
    driver-gated too: those rows must come back ``(kind='zip',
    NULL, NULL, ok=false)`` while every sibling extracts. The
    oracle rebuilds the exact extracted text per family in SQL and
    compares its md5, so the router, every writer, every reader,
    and the quarantine are value-pinned under ONE query. Bytes
    never shuffle."""
    from .functions import doctext as dt

    docs = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    synth = dt.synthesize_documents_from_text(
        docs, families=19
    ).withColumn(
        "media",
        F.when(
            F.col("doc_id") % 23 == 7,
            F.lit(b"PK\x03\x04 deterministic poison, not a zip"),
        ).otherwise(F.col("media")),
    )
    feats = dt.document_text_features(synth)
    return feats.select(
        "doc_id",
        "kind",
        F.col("n_chars").cast("int").alias("n_chars"),
        F.md5(F.col("text")).alias("text_md5"),
        "ok",
    )


ORACLE_DOCTEXT_SWEEP = """
WITH norm AS (
  -- the UNION of every family's special-character class plus the
  -- shared divergent set (the 16/19-family mode normalization)
  SELECT doc_id,
         trim(regexp_replace(
           regexp_replace(text,
             '[\\\\~^%&$#{}_<>`*\\[\\]()!|=:;''"/@DIVERGENT@]',
             '-', 'g'),
           '\\s+', ' ', 'g'
         )) AS text
  FROM documents
), base AS (
  SELECT doc_id,
         LEAST(CAST(1 + length(text) % 3 AS INT),
               CAST(len(string_split(text, ' ')) AS INT)) AS n,
         string_split(text, ' ') AS ws
  FROM norm
), tok AS (
  SELECT doc_id, n, CAST(t.i AS INT) AS i,
         ws[CAST(t.i + 1 AS INT)] AS word
  FROM base, unnest(range(len(ws))) AS t(i)
), unit AS (
  SELECT doc_id, n, CAST(i % n AS INT) AS u,
         string_agg(word, ' ' ORDER BY i) AS utext
  FROM tok GROUP BY doc_id, n, (i % n)
), doc AS (
  SELECT doc_id,
         CASE doc_id % 19
           WHEN 0 THEN string_agg(utext, chr(12) ORDER BY u)
           WHEN 1 THEN string_agg(utext, chr(10) ORDER BY u)
           WHEN 2 THEN string_agg('Chapter ' || CAST(u AS VARCHAR)
                                  || chr(10) || utext,
                                  chr(12) ORDER BY u)
           WHEN 3 THEN string_agg('Slide ' || CAST(u AS VARCHAR)
                                  || chr(10) || utext,
                                  chr(12) ORDER BY u)
           WHEN 4 THEN string_agg(utext, chr(10) ORDER BY u)
           WHEN 5 THEN string_agg(utext, chr(10) ORDER BY u)
           WHEN 6 THEN string_agg('Section ' || CAST(u AS VARCHAR)
                                  || CASE WHEN utext <> ''
                                          THEN chr(10) || utext
                                          ELSE '' END,
                                  chr(10) ORDER BY u)
           WHEN 7 THEN rtrim('d' || CAST(doc_id AS VARCHAR) || ' '
                || string_agg(utext, chr(10) ORDER BY u))
           WHEN 8 THEN string_agg('Section ' || CAST(u AS VARCHAR)
                                  || CASE WHEN utext <> ''
                                          THEN chr(10) || utext
                                          ELSE '' END,
                                  chr(10) ORDER BY u)
                || chr(10) || 'quoted line'
                || chr(10) || 'item one'
                || chr(10) || 'item two'
                || chr(10) || 'Col A Col B'
                || chr(10) || 'cell one cell two'
                || chr(10) || 'code **stays** [verbatim](x)'
           WHEN 9 THEN string_agg('Section ' || CAST(u AS VARCHAR)
                                  || CASE WHEN utext <> ''
                                          THEN chr(10) || utext
                                          ELSE '' END,
                                  chr(10) ORDER BY u)
                || chr(10) || 'tcell one tcell two'
                || chr(10) || 'item one'
                || chr(10) || 'linktext'
           WHEN 10 THEN COALESCE(
                string_agg(utext, chr(10) ORDER BY u)
                  FILTER (WHERE utext <> ''), '')
           WHEN 11 THEN COALESCE(
                string_agg(utext, chr(10) ORDER BY u)
                  FILTER (WHERE utext <> ''), '')
           WHEN 12 THEN
                '#!/usr/bin/env python' || chr(10)
                || '# Module d' || CAST(doc_id AS VARCHAR) || chr(10)
                || 'import os' || chr(10) || chr(10) || chr(10)
                || string_agg(
                     'def f' || CAST(u AS VARCHAR) || '():' || chr(10)
                     || '    # ' || utext || chr(10)
                     || '    s = "' || utext || '"' || chr(10)
                     || '    return s + os.sep'
                     || chr(10) || chr(10) || chr(10),
                     '' ORDER BY u)
                || 'S = "hash # inside string stays code"' || chr(10)
                || '# done trailing comment'
           WHEN 13 THEN
                'rid words' || chr(10)
                || string_agg(
                     'r' || CAST(u AS VARCHAR)
                     || CASE WHEN utext <> '' THEN ' ' || utext
                             ELSE '' END,
                     chr(10) ORDER BY u)
                || chr(10) || 'rq she said "hi", ok'
                || chr(10) || 'rn line one line two'
           WHEN 14 THEN
                string_agg(
                     CAST(u AS VARCHAR)
                     || CASE WHEN utext <> '' THEN ' ' || utext
                             ELSE '' END,
                     chr(10) ORDER BY u)
                || chr(10) || '99 true a b'
           WHEN 15 THEN
                string_agg(
                     'Cell ' || CAST(u AS VARCHAR) || chr(10)
                     || 'md' || CAST(u AS VARCHAR)
                     || CASE WHEN utext <> '' THEN ' ' || utext
                             ELSE '' END
                     || chr(10)
                     || 'x' || CAST(u AS VARCHAR) || ' = "' || utext
                     || '"' || chr(10)
                     || '# trailing ' || CAST(u AS VARCHAR),
                     chr(10) ORDER BY u)
                || chr(10) || 'raw tail d' || CAST(doc_id AS VARCHAR)
           WHEN 16 THEN
                -- email: Doc-subject first line, then non-empty
                -- units (ORACLE_EMAIL_EXTRACT's doc shape)
                'Doc ' || CAST(doc_id AS VARCHAR)
                || COALESCE(
                     chr(10) || string_agg(utext, chr(10) ORDER BY u)
                       FILTER (WHERE utext <> ''),
                     '')
           WHEN 17 THEN
                -- iso log with the two-line sweep preamble: data
                -- unit u sits at encoded line u+2, so ERROR (and
                -- its attached continuation) lands on u % 3 = 0
                'sweep head one' || chr(10) || 'sweep head two'
                || chr(10)
                || string_agg(
                     CASE WHEN u % 3 = 0
                          THEN ltrim(utext
                                     || ' at fixture.py:42, in run')
                          ELSE utext END,
                     chr(10) ORDER BY u)
           ELSE
                -- rss/atom feed: title, then entry title + body
                'Feed d' || CAST(doc_id AS VARCHAR)
                || string_agg(
                     chr(10) || 'Entry ' || CAST(u AS VARCHAR)
                     || CASE WHEN utext <> '' THEN chr(10) || utext
                             ELSE '' END,
                     '' ORDER BY u)
         END AS text
  FROM unit GROUP BY doc_id
)
SELECT doc_id,
       CASE WHEN doc_id % 23 = 7 THEN 'zip'
            ELSE CASE doc_id % 19
              WHEN 0 THEN 'pdf' WHEN 1 THEN 'docx' WHEN 2 THEN 'epub'
              WHEN 3 THEN 'pptx' WHEN 4 THEN 'odt' WHEN 5 THEN 'rtf'
              WHEN 6 THEN 'latex' WHEN 7 THEN 'html' WHEN 8 THEN 'md'
              WHEN 9 THEN 'wiki' WHEN 10 THEN 'srt' WHEN 11 THEN 'vtt'
              WHEN 12 THEN 'code' WHEN 13 THEN 'csv'
              WHEN 14 THEN 'jsonl' WHEN 15 THEN 'ipynb'
              WHEN 16 THEN 'eml' WHEN 17 THEN 'log'
              ELSE 'feed' END
       END AS kind,
       CASE WHEN doc_id % 23 = 7 THEN NULL
            ELSE CAST(length(text) AS INT) END AS n_chars,
       CASE WHEN doc_id % 23 = 7 THEN NULL
            ELSE md5(text) END AS text_md5,
       doc_id % 23 <> 7 AS ok
FROM doc
""".replace("@DIVERGENT@", _DIVERGENT_RE2)


def q_warc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Archive family corpus gate (round 11): each document becomes
    a mini WARC shard (``1 + doc_id % 3`` records, per-record-gzip
    for even doc_ids / plain for odd — both Common Crawl layouts),
    encoded with ``encode_warc`` and re-parsed with
    ``parse_warc_records`` in the SAME kernel
    (``sources/archives.py`` warc_roundtrip_table). The oracle
    replays record count, Content-Length totals, and the
    concatenated-payload md5 in SQL, so any framing, header-walk, or
    gzip-member error anywhere in the corpus shifts a record and
    fails the hash. Shard bytes never leave the task."""
    from .sources import archives as ar

    docs = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    return ar.warc_roundtrip_table(docs)


ORACLE_WARC_ROUNDTRIP = """
WITH base AS (
  SELECT doc_id, text, CAST(1 + doc_id % 3 AS INT) AS n
  FROM documents
), rec AS (
  SELECT doc_id, n, CAST(t.i AS INT) AS i,
         'rec-' || CAST(t.i AS VARCHAR) || ':' || text AS payload
  FROM base, unnest(range(n)) AS t(i)
)
SELECT doc_id, any_value(n) AS n_records,
       CAST(SUM(octet_length(encode(payload))) AS BIGINT) AS total_len,
       md5(string_agg(payload, '' ORDER BY i)) AS payload_md5,
       'https://example.com/' || CAST(doc_id AS VARCHAR) || '/0'
         AS first_uri,
       TRUE AS ok
FROM rec GROUP BY doc_id
"""


_ALL: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {
    # --- round-5 gate window (driver checks the FIRST 50) ---
    # Window MEMBERSHIP is the gate contract. Leads: the 41-query
    # r2/r3-proven block that round 4's rotation pushed out of the
    # window (cheap relational/elementwise first so session residue
    # lands on sub-second queries), then the 8 queries that had
    # NEVER earned a driver CORRECTNESS row (VERDICT r4 item 1),
    # then semantic_dedup, whose implementation changed this round.
    "filter_project": (q_filter_project, ORACLE_FILTER_PROJECT),
    "group_by_key": (q_group_by_key, ORACLE_GROUP_BY_KEY),
    "frequencies": (q_frequencies, ORACLE_FREQUENCIES),
    "keep": (q_keep, ORACLE_KEEP),
    "frequencies_by": (q_frequencies_by, ORACLE_FREQUENCIES_BY),
    "combine_global": (q_combine_global, ORACLE_COMBINE_GLOBAL),
    "flatten": (q_flatten, ORACLE_FLATTEN),
    "top_customers": (q_top_customers, ORACLE_TOP_CUSTOMERS),
    "top_per_nation": (q_top_per_nation, ORACLE_TOP_PER_NATION),
    "price_percentiles": (q_price_percentiles, ORACLE_PRICE_PERCENTILES),
    "combiner_mapper_predicate": (
        q_combiner_mapper_predicate,
        ORACLE_COMBINER_MAPPER_PREDICATE,
    ),
    "quality_above_median": (
        q_quality_above_median,
        ORACLE_QUALITY_ABOVE_MEDIAN,
    ),
    "length_quartiles": (q_length_quartiles, ORACLE_LENGTH_QUARTILES),
    "salted_agg": (q_salted_agg, ORACLE_SALTED_AGG),
    "text_stats": (q_text_stats, ORACLE_TEXT_STATS),
    "lang_id": (q_lang_id, ORACLE_LANG_ID),
    "fingerprint": (q_fingerprint, ORACLE_FINGERPRINT),
    "char_entropy": (q_char_entropy, ORACLE_CHAR_ENTROPY),
    "pack_sequences": (q_pack_sequences, ORACLE_PACK_SEQUENCES),
    "token_budget_mix": (q_token_budget_mix, ORACLE_TOKEN_BUDGET_MIX),
    "pii_redact": (q_pii_redact, ORACLE_PII_REDACT),
    "dedup_lines": (q_dedup_lines, ORACLE_DEDUP_LINES),
    "boilerplate_removal": (q_boilerplate_removal, ORACLE_BOILERPLATE_REMOVAL),
    "doc_quality": (q_doc_quality, ORACLE_DOC_QUALITY),
    "quota_sample": (q_quota_sample, ORACLE_QUOTA_SAMPLE),
    "quality_classifier": (q_quality_classifier, ORACLE_QUALITY_CLASSIFIER),
    "tfidf_top_terms": (q_tfidf_top_terms, ORACLE_TFIDF_TOP_TERMS),
    "stateful_running_sum": (
        q_stateful_running_sum,
        ORACLE_STATEFUL_RUNNING_SUM,
    ),
    "stateful_distinct_types": (
        q_stateful_distinct_types,
        ORACLE_STATEFUL_DISTINCT_TYPES,
    ),
    "corpus_prep_pipeline": (q_corpus_prep_pipeline, ORACLE_CORPUS_PREP),
    "repeated_ngrams": (q_repeated_ngrams, ORACLE_REPEATED_NGRAMS),
    "fingerprint_rolling": (q_fingerprint_rolling, ORACLE_FINGERPRINT_ROLLING),
    "similarity_topk": (q_similarity_topk, ORACLE_SIMILARITY_TOPK),
    "similarity_ann": (q_similarity_ann, ORACLE_SIMILARITY_ANN),
    "similarity_ivf": (q_similarity_ivf, ORACLE_SIMILARITY_IVF),
    "knn_search": (q_knn_search, ORACLE_KNN_SEARCH),
    "dedup_simhash": (q_dedup_simhash, ORACLE_DEDUP_SIMHASH),
    "dedup_embedding_pairs": (q_dedup_embedding_pairs, ORACLE_DEDUP_EMBEDDING),
    "dedup_cross_corpus": (q_dedup_cross_corpus, ORACLE_DEDUP_CROSS_CORPUS),
    "ngram_jaccard_verify": (q_ngram_jaccard_verify, ORACLE_NGRAM_JACCARD),
    "dedup_minhash_pairs": (q_dedup_minhash_pairs, ORACLE_DEDUP_MINHASH),
    "source_overlap": (q_source_overlap, ORACLE_SOURCE_OVERLAP),
    # the 8 never-driver-gated round-4 additions:
    "bm25_search": (q_bm25_search, ORACLE_BM25_SEARCH),
    "ngram_containment": (q_ngram_containment, ORACLE_NGRAM_CONTAINMENT),
    "corpus_diff": (q_corpus_diff, ORACLE_CORPUS_DIFF),
    "filter_report": (q_filter_report, ORACLE_FILTER_REPORT),
    "filter_funnel": (q_filter_funnel, ORACLE_FILTER_FUNNEL),
    "semantic_pack": (q_semantic_pack, ORACLE_SEMANTIC_PACK),
    "zorder_key": (q_zorder_key, ORACLE_ZORDER_KEY),
    "ann_recall": (q_ann_recall, ORACLE_ANN_RECALL),
    # implementation changed round 5 (mega-cell skew guard) -> re-gate:
    "semantic_dedup": (q_semantic_dedup, ORACLE_SEMANTIC_DEDUP),
    # --- OUTSIDE the round-5 window (positions 51+) ---
    # deferred one extra round to make room for the 8 never-gated
    # + changed semantic_dedup: sample_per_key is rows-only by
    # design (its deterministic twin sample_per_key_det is r4-
    # green) and multimodal_features is r3-green and unchanged.
    # Both lead the round-6 rotation.
    # new in round 5 (gate_sim-proven; lead the round-6 rotation
    # together with the two deferrals above):
    "importance_resample": (
        q_importance_resample,
        ORACLE_IMPORTANCE_RESAMPLE,
    ),
    "ccnet_buckets": (q_ccnet_buckets, ORACLE_CCNET_BUCKETS),
    "weighted_sample_det": (q_weighted_sample_det, ORACLE_WEIGHTED_SAMPLE_DET),
    "winnow_fingerprints": (q_winnow_fingerprints, ORACLE_WINNOW_FINGERPRINTS),
    "bpe_pairs": (q_bpe_pairs, ORACLE_BPE_PAIRS),
    "source_drift": (q_source_drift, ORACLE_SOURCE_DRIFT),
    "bpe_tokenize": (q_bpe_tokenize, ORACLE_BPE_TOKENIZE),
    "subword_fertility": (q_subword_fertility, ORACLE_SUBWORD_FERTILITY),
    "chat_validate": (q_chat_validate, ORACLE_CHAT_VALIDATE),
    "chat_turns": (q_chat_turns, ORACLE_CHAT_TURNS),
    "url_normalize": (q_url_normalize, ORACLE_URL_NORMALIZE),
    "host_stats": (q_host_stats, ORACLE_HOST_STATS),
    "topic_tags": (q_topic_tags, ORACLE_TOPIC_TAGS),
    "embedding_audit": (q_embedding_audit, ORACLE_EMBEDDING_AUDIT),
    "sentence_chunks": (q_sentence_chunks, ORACLE_SENTENCE_CHUNKS),
    "fk_audit": (q_fk_audit, ORACLE_FK_AUDIT),
    "bm25_negatives": (q_bm25_negatives, ORACLE_BM25_NEGATIVES),
    "length_batches": (q_length_batches, ORACLE_LENGTH_BATCHES),
    "budget_batches": (q_budget_batches, ORACLE_BUDGET_BATCHES),
    "neighbor_report": (q_neighbor_report, ORACLE_NEIGHBOR_REPORT),
    "sft_tokens": (q_sft_tokens, ORACLE_SFT_TOKENS),
    "canary_report": (q_canary_report, ORACLE_CANARY_REPORT),
    "textrank": (q_textrank, ORACLE_TEXTRANK),
    "event_paths": (q_event_paths, ORACLE_EVENT_PATHS),
    "bigram_lm": (q_bigram_lm, ORACLE_BIGRAM_LM),
    "content_manifest": (q_content_manifest, ORACLE_CONTENT_MANIFEST),
    "domain_reweight": (q_domain_reweight, ORACLE_DOMAIN_REWEIGHT),
    "quantized_search": (q_quantized_search, ORACLE_QUANTIZED_SEARCH),
    "edit_verify": (q_edit_verify, ORACLE_EDIT_VERIFY),
    "mad_outliers": (q_mad_outliers, ORACLE_MAD_OUTLIERS),
    "collocations": (q_collocations, ORACLE_COLLOCATIONS),
    "contrastive_pairs": (q_contrastive_pairs, ORACLE_CONTRASTIVE_PAIRS),
    "skew_report": (q_skew_report, ORACLE_SKEW_REPORT),
    "cohort_retention": (q_cohort_retention, ORACLE_COHORT_RETENTION),
    "bm25_multi": (q_bm25_multi, ORACLE_BM25_MULTI),
    # --- driver-green in round 4 (CORRECTNESS_r04.json), unchanged ---
    "distinct": (q_distinct, ORACLE_DISTINCT),
    "distinct_by": (q_distinct_by, ORACLE_DISTINCT_BY),
    "join_required": (q_join_required, ORACLE_JOIN_REQUIRED),
    "join_optional": (q_join_optional, ORACLE_JOIN_OPTIONAL),
    "join_multiway": (q_join_multiway, ORACLE_JOIN_MULTIWAY),
    "cogroup_counts": (q_cogroup_counts, ORACLE_COGROUP_COUNTS),
    "setops_intersect": (q_setops_intersect, ORACLE_SETOPS_INTERSECT),
    "setops_except": (q_setops_except, ORACLE_SETOPS_EXCEPT),
    "setops_union": (q_setops_union, ORACLE_SETOPS_UNION),
    "concat_count": (q_concat_count, ORACLE_CONCAT_COUNT),
    "mapcat_tokens": (q_mapcat_tokens, ORACLE_MAPCAT_TOKENS),
    "partition_by": (q_partition_by, ORACLE_PARTITION_BY),
    "sample_global_det": (q_sample_global_det, ORACLE_SAMPLE_GLOBAL_DET),
    "sample_per_key_det": (q_sample_per_key_det, ORACLE_SAMPLE_PER_KEY_DET),
    "window_fixed": (q_window_fixed, ORACLE_WINDOW_FIXED),
    "window_sliding": (q_window_sliding, ORACLE_WINDOW_SLIDING),
    "window_session": (q_window_session, ORACLE_WINDOW_SESSION),
    "dedup_exact": (q_dedup_exact, ORACLE_DEDUP_EXACT),
    "chunk_documents": (q_chunk_documents, ORACLE_CHUNK_DOCUMENTS),
    "unigram_quality": (q_unigram_quality, ORACLE_UNIGRAM_QUALITY),
    "funnel": (q_funnel, ORACLE_FUNNEL),
    "sessionize": (q_sessionize, ORACLE_SESSIONIZE),
    "rolling_window": (q_rolling_window, ORACLE_ROLLING_WINDOW),
    "stratified_sample": (q_stratified_sample, ORACLE_STRATIFIED_SAMPLE),
    "ngram_counts": (q_ngram_counts, ORACLE_NGRAM_COUNTS),
    "pivot": (q_pivot, ORACLE_PIVOT),
    "profile": (q_profile, ORACLE_PROFILE),
    "hash_split": (q_hash_split, ORACLE_HASH_SPLIT),
    "rollup": (q_rollup, ORACLE_ROLLUP),
    "asof_last_view": (q_asof_last_view, ORACLE_ASOF_LAST_VIEW),
    "range_join_error_window": (
        q_range_join_error_window,
        ORACLE_RANGE_JOIN_ERROR_WINDOW,
    ),
    "gopher_quality": (q_gopher_quality, ORACLE_GOPHER_QUALITY),
    "side_input_filter": (q_side_input_filter, ORACLE_SIDE_INPUT_FILTER),
    "dedup_incremental": (q_dedup_incremental, ORACLE_DEDUP_INCREMENTAL),
    "decontaminate": (q_decontaminate, ORACLE_DECONTAMINATE),
    "remove_repeated_spans": (
        q_remove_repeated_spans,
        ORACLE_REMOVE_REPEATED_SPANS,
    ),
    "global_shuffle": (q_global_shuffle, ORACLE_GLOBAL_SHUFFLE),
    "temperature_mix": (q_temperature_mix, ORACLE_TEMPERATURE_MIX),
    "dsir_scores": (q_dsir_scores, ORACLE_DSIR_SCORES),
    "dedup_cluster_report": (
        q_dedup_cluster_report,
        ORACLE_DEDUP_CLUSTER_REPORT,
    ),
    "embedding_clusters": (q_embedding_clusters, ORACLE_EMBEDDING_CLUSTERS),
    "dedup_clusters": (q_dedup_clusters, ORACLE_DEDUP_CLUSTERS),
    "dedup_keep_best": (q_dedup_keep_best, ORACLE_DEDUP_KEEP_BEST),
    "objectmode_wordcount": (
        q_objectmode_wordcount,
        ORACLE_OBJECTMODE_WORDCOUNT,
    ),
    "objectmode_join": (q_objectmode_join, ORACLE_OBJECTMODE_JOIN),
    "objectmode_side_outputs": (
        q_objectmode_side_outputs,
        ORACLE_OBJECTMODE_SIDE_OUTPUTS,
    ),
    "pricing_summary": (q_pricing_summary, ORACLE_PRICING),
    # --- round 7 ---
    "hybrid_search": (q_hybrid_search, ORACLE_HYBRID_SEARCH),
    "script_mix": (q_script_mix, ORACLE_SCRIPT_MIX),
    "ngram_novelty": (q_ngram_novelty, ORACLE_NGRAM_NOVELTY),
    "cdc_chunks": (q_cdc_chunks, ORACLE_CDC_CHUNKS),
    "zipf_fit": (q_zipf_fit, ORACLE_ZIPF_FIT),
    "audio_features": (q_audio_features, ORACLE_AUDIO_FEATURES),
    "curriculum": (q_curriculum, ORACLE_CURRICULUM),
    # --- round 8 (image_formats and image_ahash retired in round 11
    # to pay for office_extract/latex_extract: image_formats' two
    # formats are gated inside image_formats_all's nine-format
    # corpus, and image_ahash's decode→aHash path is gated
    # end-to-end by image_neardup_clusters — the same absorption
    # that retired ahash_pairs in round 10; both retired FUNCTIONS
    # stay in the library with pytest coverage) ---
    "paragraph_dedup": (q_paragraph_dedup, ORACLE_PARAGRAPH_DEDUP),
    "readability": (q_readability, ORACLE_READABILITY),
    # --- round 9 (promoted from the round-8 staging block) ---
    "html_extract": (q_html_extract, ORACLE_HTML_EXTRACT),
    # --- round 10 (promoted from the round-8/9 staging block) ---
    "pdf_extract": (q_pdf_extract, ORACLE_PDF_EXTRACT),
    "image_neardup_clusters": (
        q_image_neardup_clusters, ORACLE_IMAGE_NEARDUP_CLUSTERS,
    ),
    "image_formats_all": (q_image_formats_all, ORACLE_IMAGE_FORMATS_ALL),
    "video_frames": (q_video_frames, ORACLE_VIDEO_FRAMES),
    "rebuild_paragraphs": (q_rebuild_paragraphs, ORACLE_REBUILD_PARAGRAPHS),
    # --- round 10 session 2 (promoted one-for-one under the 156
    # cap; retired: sample_global / sample_per_key / approx_aggs —
    # rows-only by design, their fully-oracled deterministic twins
    # stay gated — plus ahash_pairs, subsumed end-to-end by
    # image_neardup_clusters, and multimodal_features, the stub-era
    # plumbing query superseded by the real-decode family; all five
    # retired FUNCTIONS remain in the library with pytest coverage) ---
    "mp4_metadata": (q_mp4_metadata, ORACLE_MP4_METADATA),
    "audio_metadata": (q_audio_metadata, ORACLE_AUDIO_METADATA),
    "remove_spans_keep_first": (
        q_remove_spans_keep_first, ORACLE_REMOVE_SPANS_KEEP_FIRST,
    ),
    "robots_filter": (q_robots_filter, ORACLE_ROBOTS_FILTER),
    # --- round 11 (promoted one-for-one under the 156 cap;
    # retired: gif_frames — its GIF decode/compositing gate with the
    # exact pixel-sum pin is absorbed into video_frames' merged
    # GIF+MJPEG corpus — and image_progressive, whose baseline-vs-
    # progressive parity is gated inside image_formats_all's
    # nine-format corpus; both retired FUNCTIONS stay in the library
    # with pytest coverage) ---
    "warc_roundtrip": (q_warc_roundtrip, ORACLE_WARC_ROUNDTRIP),
    "image_exif": (q_image_exif, ORACLE_IMAGE_EXIF),
    # --- round 11 session 2 (one-for-one: image_formats /
    # image_ahash retired, see the round-8 block comment) ---
    "latex_extract": (q_latex_extract, ORACLE_LATEX_EXTRACT),
    # --- round 12 RESTORATIONS (the alternating-windows cap ends the
    # zero-sum regime, so the two round-11 retirements-by-absorption
    # return as first-class gated rows: gif_frames' full-disposal
    # frame iteration and image_progressive's baseline-vs-progressive
    # decode parity each regain their dedicated oracle — absorption
    # into video_frames / image_formats_all stays as secondary
    # coverage) ---
    "gif_frames": (q_gif_frames, ORACLE_GIF_FRAMES),
    "image_progressive": (q_image_progressive, ORACLE_IMAGE_PROGRESSIVE),
    # --- round 12 (promoted one-for-one; retired: office_extract —
    # its DOCX/EPUB/PPTX 3-format rotation is a strict subset of
    # doctext_sweep's 8-family rotation under the same full-text md5
    # oracle, and the adversarial fixtures live in the SHARED
    # encoders (encode_docx's PAGEREF field-instruction run,
    # encode_epub's scrambled spine filenames + reversed member
    # order), so the retirement loses no coverage; the retired
    # function + oracle stay in the library with pytest parity
    # coverage) ---
    "doctext_sweep": (q_doctext_sweep, ORACLE_DOCTEXT_SWEEP),
    # --- round 12 new modalities: markdown (CommonMark-core) and
    # wikitext (MediaWiki core), both gated directly under the
    # alternating-windows cap ---
    "markdown_extract": (q_markdown_extract, ORACLE_MARKDOWN_EXTRACT),
    "wikitext_extract": (q_wikitext_extract, ORACLE_WIKITEXT_EXTRACT),
    "subtitles_extract": (q_subtitles_extract, ORACLE_SUBTITLES_EXTRACT),
    "code_extract": (q_code_extract, ORACLE_CODE_EXTRACT),
    "tabular_extract": (q_tabular_extract, ORACLE_TABULAR_EXTRACT),
    "av_transcript_pairs": (q_av_transcript_pairs, ORACLE_AV_TRANSCRIPT_PAIRS),
    "parquet_extract": (q_parquet_extract, ORACLE_PARQUET_EXTRACT),
    "compressed_extract": (q_compressed_extract, ORACLE_COMPRESSED_EXTRACT),
    "notebook_extract": (q_notebook_extract, ORACLE_NOTEBOOK_EXTRACT),
    "email_extract": (q_email_extract, ORACLE_EMAIL_EXTRACT),
    "log_extract": (q_log_extract, ORACLE_LOG_EXTRACT),
    "feed_extract": (q_feed_extract, ORACLE_FEED_EXTRACT),
    "ics_extract": (q_ics_extract, ORACLE_ICS_EXTRACT),
    "router_report": (q_router_report, ORACLE_ROUTER_REPORT),
    "charset_extract": (q_charset_extract, ORACLE_CHARSET_EXTRACT),
}


# ---------------------------------------------------------------------
# Driver gate order. The external driver hash-checks the first
# _DRIVER_WINDOW entries of REGISTRY against DuckDB each round.

_DRIVER_WINDOW = 50
#: staleness backstop in rounds: with _DRIVER_WINDOW queries gated per
#: round, a registry of about _DRIVER_WINDOW * (_MAX_STALENESS - 1)
#: queries is the most the rotation can keep inside it
#: (tests/test_plans.py::test_registry_headroom derives its cap here).
_MAX_STALENESS = 8

_ARTIFACT_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _latest_driver_rows(
    root: str = _ARTIFACT_ROOT,
) -> tuple[list[int], dict[str, int]]:
    """Newest driver-green round per query, read from the
    ``CORRECTNESS_rNN.json`` artifacts in ``root``. A row is green on
    a full hash match, or when it is a ``no_oracle`` row whose Spark
    run succeeded (the by-design rows-only queries). Returns
    ``(rounds, {name: newest green round})`` with ``rounds`` the
    sorted rounds whose artifact parsed. Unreadable, malformed and
    non-dict files are skipped, so this never raises."""
    import glob as _glob
    import json as _json
    import re as _re

    latest: dict[str, int] = {}
    rounds: list[int] = []
    for p in _glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        m = _re.fullmatch(r"CORRECTNESS_r(\d+)\.json", os.path.basename(p))
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(p) as fh:
                data = _json.load(fh)
        except Exception:
            continue
        if not isinstance(data, dict):
            continue
        entries = data.get("queries") or data
        if not isinstance(entries, dict):
            continue
        rounds.append(rnd)
        for name, row in entries.items():
            if not isinstance(row, dict):
                continue
            green = bool(
                row.get("rows_match")
                and row.get("schema_match")
                and row.get("hash_match")
            )
            rows_only_ok = (
                row.get("err") == "no_oracle"
                and row.get("spark_rows") is not None
            )
            if green or rows_only_ok:
                latest[name] = max(latest.get(name, 0), rnd)
    return sorted(rounds), latest


def _gate_order(names: list[str], root: str = _ARTIFACT_ROOT) -> list[str]:
    """``names`` sorted stalest-first by newest driver-green round
    (never gated first); the sort is stable, so ties keep the order
    of ``names``."""
    _, latest = _latest_driver_rows(root)
    return sorted(names, key=lambda q: latest.get(q, -1))


# Registry order = _ALL sorted stalest-first (never driver-gated
# first, ties in _ALL order), so the driver's window always holds the
# stalest queries. Promoting a query means adding one _ALL row.
_ORDER: list[str] = _gate_order(list(_ALL))

REGISTRY: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {
    name: _ALL[name] for name in _ORDER
}


#: Queries WITHOUT an oracle BY DESIGN (the driver records a weaker
#: rows-only check for them and prints ``err: no_oracle`` every
#: round): each is non-deterministic at the VALUE level (RNG / sketch
#: internals), and each has a fully-oracled deterministic twin that
#: proves the same operator code path. This marker exists so the
#: rows-only status reads as intentional, not as a missing oracle.
ROWS_ONLY: dict[str, str] = {
    # EMPTY since round-10 session 2: the three by-design rows-only
    # queries (sample_global, sample_per_key, approx_aggs — RNG /
    # sketch value nondeterminism) were RETIRED from the gated
    # registry to pay one-for-one for the session-2 promotions under
    # the 156 cap. Their fully-oracled deterministic twins
    # (sample_global_det, sample_per_key_det; exact counts in
    # profile / exact percentiles in price_percentiles) stay gated,
    # and the RNG functions keep pytest coverage. Every gated query
    # is now oracle-paired.
}


def rows_only() -> dict[str, str]:
    """Explicit by-design marker for the no-oracle queries (see
    :data:`ROWS_ONLY`)."""
    return dict(ROWS_ONLY)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: fn for name, (fn, _) in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_, sql) in REGISTRY.items() if sql is not None}
