"""Pipeline shell: session construction + named-op plumbing.

Reference parity: ``make-pipeline`` / ``run-pipeline``
(/root/reference/src/clj/datasplash/core.clj:1071-1133) build a Beam
pipeline from CLI-ish options and run it on a runner. In the Spark
rebuild the SparkSession *is* the pipeline: transformations are lazy
(logical plan) and actions/stream-starts play the role of
``run-pipeline``. ``apply-transform`` naming (core.clj:498-519)
becomes a thin options dict + ``DataFrame.alias``.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: Tables the driver test corpus ships (TESTDATA.md).
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


@dataclass
class PipelineOptions:
    """Analog of the reference's ``defoptions`` typed-options interface
    (/root/reference/src/clj/datasplash/options.clj:23-44), minus the
    Beam runner knobs that have no Spark meaning.
    """

    app_name: str = "datasplash-spark"
    master: str | None = None  # default: local[$SPARK_GRAFT_CPUS]
    shuffle_partitions: int | None = None
    extra_conf: dict[str, Any] = field(default_factory=dict)


def _camel(s: str) -> str:
    """kebab/snake → camelCase (the reference normalizes every arg
    key this way, core.clj:1053-1056)."""
    parts = s.replace("_", "-").split("-")
    return parts[0] + "".join(p.title() for p in parts[1:])


def job_name_template(tpl: str, app_name: str, user: str | None = None) -> str:
    """``jobNameTemplate`` interpolation (core.clj:1037-1046):
    ``%U`` = user, ``%A`` = app name, ``%T`` = timestamp; lower-cased,
    non [-a-z0-9] chars become ``0``."""
    import getpass
    import re
    import time

    out = (
        tpl.replace("%U", user or getpass.getuser() or "nemo")
        .replace("%A", app_name)
        .replace("%T", time.strftime("%Y%m%d%H%M%S"))
        .lower()
    )
    return re.sub(r"[^-a-z0-9]", "0", out)


def args_to_conf(
    str_args: list[str] | None = None, **kw_args
) -> dict[str, object]:
    """``args->cli-args`` analog (core.clj:1048-1069): merge
    ``--key=value`` CLI strings and keyword args into one normalized
    (camelCase-keyed) dict; CLI strings win. List values stay lists
    (the reference repeats the flag). ``jobNameTemplate`` interpolates
    into ``jobName`` (core.clj:1058-1066)."""
    merged: dict[str, object] = {}
    for k, v in kw_args.items():
        merged[_camel(k)] = v
    for kv in str_args or []:
        k, _, v = kv.partition("=")
        merged[_camel(k.removeprefix("--"))] = v if v != "" else None
    merged.setdefault("appName", "unknown")
    tpl = merged.pop("jobNameTemplate", None)
    if tpl:
        merged["jobName"] = job_name_template(str(tpl), str(merged["appName"]))
    return merged


def options_from_args(
    str_args: list[str] | None = None, **kw_args
) -> PipelineOptions:
    """``make-pipeline`` options parsing: recognized keys land on
    :class:`PipelineOptions`; everything else flows into
    ``extra_conf`` as ``spark.*`` (or verbatim) settings."""
    conf = args_to_conf(str_args, **kw_args)
    opts = PipelineOptions()
    opts.app_name = str(conf.pop("appName"))
    if "jobName" in conf:
        opts.app_name = str(conf.pop("jobName"))
    if "master" in conf:
        opts.master = str(conf.pop("master"))
    if "shufflePartitions" in conf:
        raw = conf.pop("shufflePartitions")
        try:
            opts.shuffle_partitions = int(raw)  # type: ignore[arg-type]
        except (TypeError, ValueError) as e:
            raise ValueError(f"--shuffle-partitions: not an int: {raw!r}") from e
    opts.extra_conf = dict(conf)
    return opts


def default_cpus() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def make_session(options: PipelineOptions | None = None) -> SparkSession:
    """``make-pipeline`` analog (core.clj:1094-1108): build a session
    with scale-aware defaults (AQE on, Arrow on, UTC, shuffle
    partitions sized to the parallelism, not Spark's default 200).
    """
    opts = options or PipelineOptions()
    cpus = default_cpus()
    master = opts.master or f"local[{cpus}]"
    shuffle = opts.shuffle_partitions or (cpus if master.startswith("local") else 200)
    # 12g (was 48g): the pinned+pretouched heap below must be faulted
    # in at startup, and 48g of lazily-backed sandbox pages cost >3 min
    # to touch while the whole bench corpus is ~20 MB of parquet — the
    # bench/test working set peaks far below 12g (measured: identical
    # walls at 12g, no spill). Production clusters size this per
    # executor as usual; the env var is the knob either way.
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "12g")
    builder = (
        SparkSession.builder.master(master)
        .appName(opts.app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", mem)
        # Pin the heap and fault it in ONCE at startup (guide §5, r14
        # measurement): with the default growable heap, every G1 cycle
        # uncommits regions and the next heavy stage re-faults them —
        # on this sandbox's lazily-backed VM memory a first-touch page
        # fault is served in USERSPACE, and the fault storm was
        # measured charging up to 1,491 s of kernel time to a single
        # 60 s query (dedup_cross_corpus: 14 s → 1,491 s jvm_sys
        # across identical reps; with Xms=Xmx+AlwaysPreTouch the same
        # reps run 0.76-1.26 s wall with 0.3-0.9 s jvm_sys). The
        # pretouch moves that cost to session startup, OUTSIDE every
        # timed region, and makes heavy-stage walls reproducible.
        # Production analog: size executors with Xms=Xmx (standard
        # long-running-service JVM practice); parameterized by
        # $SPARK_GRAFT_DRIVER_MEM like the heap itself.
        .config(
            "spark.driver.extraJavaOptions",
            f"-Xms{mem} -XX:+AlwaysPreTouch",
        )
        # Align whole-stage-codegen's fallback with the JVM's actual
        # JIT limit (guide §1.2 step 3, r14 measurement): HotSpot
        # refuses to JIT-compile any method over 8000 bytecode bytes
        # (-XX:+DontCompileHugeMethods, on by default), so a fused
        # processNext() above that size runs in the BYTECODE
        # INTERPRETER forever. Spark's default hugeMethodLimit (65535)
        # happily keeps such stages in codegen; 8000 makes Spark fall
        # back to per-operator codegen exactly when the JVM would stop
        # compiling — measured on the intra-cell pair stage (a 64-term
        # unrolled dot inside a join+window stage): 5.0 s -> 0.62 s
        # executor CPU, wall 5.4 -> 0.93 s, identical results. Scale-
        # independent: the limit tracks the JVM, not the data.
        # Re-measured against 65535 with the class cache below warm
        # (4-vCPU host, local[4]; SCALING.md "Codegen class cache"):
        # 8000 is faster on curate's contrastive pass (0.69-0.72 vs
        # 0.88-0.93 s) and at sf0.1 on contrastive_pairs (0.89-1.00
        # vs 2.42-2.57 s) and semantic_dedup (0.87-0.89 vs 1.59-1.60
        # s); slower on weighted_sample_det (0.87 vs 0.58-0.60 s) and
        # edit_verify (0.57 vs 0.51-0.54 s).
        .config("spark.sql.codegen.hugeMethodLimit", "8000")
        # Keep a long-lived session's generated classes compiled. Spark
        # caches compiled classes in one LRU per JVM, keyed by source
        # and context classloader (a stage compiles once on a driver
        # thread and once on a task thread), of 100 entries by
        # default. A warm pipebench curate cycle needs ~204, so each
        # class was evicted before its reuse and every cycle
        # recompiled ~208 (~0.9 s of Janino, then cold bytecode under
        # HotSpot). Entries needed, counted with CodegenMetrics on a
        # 4-vCPU host at local[4]: curate 182 per cycle, serve_ingest
        # 28, one bench.py entry at most 64, the whole sf0.1 bench
        # sweep 941 (warm-ups and store probes included). 1000 holds
        # every set a session repeats, a second bench sweep included:
        # warm curate cycles compile 0 classes (was ~208), the bench
        # sweep's timed entries 774 (was 1,732), Tier-1, which runs
        # each test once, 4,819 (was 9,080), at unchanged peak RSS. A
        # static conf: it must be set before the first session of
        # the JVM; extra_conf overrides it.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # A whole-stage class is named after its codegen stage id,
        # which AQE assigns in the order query stages become ready,
        # so a plan with racing independent stages (bm25_scores's
        # broadcast and shuffle sides) produced new class names, and
        # compiled new classes, on most calls. Without the id the same
        # stage reuses its class; plans and results are unchanged.
        .config("spark.sql.codegen.useIdInClassName", "false")
    )
    for k, v in opts.extra_conf.items():
        builder = builder.config(k, str(v))
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


#: (applicationId, path, mtime, listing) -> resolved base DataFrame; see
#: read_parquet_memo. Holds file-listing metadata and schema, never rows.
_RELATION_CACHE: dict = {}

#: id(base events DataFrame) -> (base, ts-normalized DataFrame); see
#: load_table. Entries hold the base, so the id cannot be recycled
#: while the entry lives, and the hit path re-checks identity.
_EVENTS_TS_CACHE: dict = {}


def read_parquet_memo(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the resolved relation memoized.

    Every ``spark.read.parquet`` call infers the schema (a footer-read
    job) and rebuilds the file index (a recursive listing of every
    partition directory). That is ~20-100 ms of driver time per call,
    paid by every query build (``load_table``) and every store probe
    of a serving loop. The memo returns the same DataFrame for an
    unchanged path. It caches metadata only: each action still scans
    the parquet.

    Key contract. The key is ``(path, mtime, listing)`` from the Hadoop
    FileSystem, where ``listing`` is the sorted ``(name, length,
    mtime)`` of the path's top-level entries (for a single file, the
    file itself). It is keyed also by applicationId, because a
    DataFrame dies with its context. Every Spark write changes the key:
    a commit rewrites the top-level ``_SUCCESS``, and new part files or
    whole renamed partition directories change the listing or an
    entry's mtime. That covers ``mode("overwrite")``, appends into an
    existing ``cell=``/``bucket=`` partition, and the two-level
    ``_batch_id=/term_bucket=`` dynamic overwrite of the postings
    admitter. An out-of-band in-place edit of a file inside a
    partition directory is NOT seen. Catching it would need a
    recursive listing, a per-read py4j cost on every probe, for a case
    no writer in this package produces.

    Any error while computing the key gives an uncached read. A
    directory holding only ``_SUCCESS`` (written from a frame with no
    rows) raises a ``ValueError`` instead of Spark's opaque
    UNABLE_TO_INFER_SCHEMA."""
    from pyspark.errors import AnalysisException

    try:
        jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        mtime = int(fs.getFileStatus(jpath).getModificationTime())
        listing = tuple(sorted(
            (
                st.getPath().getName(),
                int(st.getLen()),
                int(st.getModificationTime()),
            )
            for st in fs.listStatus(jpath)
        ))
        key = (spark.sparkContext.applicationId, path, mtime, listing)
    except Exception:  # noqa: BLE001 - fs oddity -> uncached read
        key = None
    cached = _RELATION_CACHE.get(key)
    if cached is not None:
        return cached
    try:
        df = spark.read.parquet(path)
    except AnalysisException as e:
        if "UNABLE_TO_INFER_SCHEMA" in str(e):
            raise ValueError(
                f"parquet at {path!r} holds no data files (written from "
                "a frame with no rows): nothing to read"
            ) from e
        raise
    if key is not None:
        if len(_RELATION_CACHE) > 64:
            _RELATION_CACHE.clear()
        _RELATION_CACHE[key] = df
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver testdata table.

    ``events.parquet``'s ``ts`` column has shipped with two parquet
    physical types across driver testdata generations: TIMESTAMP(NANOS)
    (which Spark's vectorized reader rejects — read as raw nanos via
    ``nanosAsLong`` and convert) and TIMESTAMP(MICROS, NTZ) (which
    Spark reads as TIMESTAMP_NTZ — a type that refuses numeric casts
    and differs from what window/epoch arithmetic expects). Both are
    normalized to session-zone TimestampType; the session runs UTC
    (`make_session`), so NTZ→LTZ changes no values.

    NOTE: ``nanosAsLong`` stays set on the session afterwards — a NANOS
    events scan consults it at *execution* time, so it cannot be
    restored eagerly. Session-wide effect: other TIMESTAMP(NANOS)
    parquet columns will read as bigint instead of erroring. No other
    timestamp precision is affected.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = read_parquet_memo(spark, path)
        # the ts normalization below is a pure function of the base
        # relation — memoize it per base object (the base is itself
        # memoized per content key, so a rewrite yields a new base and
        # a fresh transform; ~25 ms of per-call expression building
        # otherwise re-paid by every events query build)
        cached = _EVENTS_TS_CACHE.get(id(df))
        if cached is not None and cached[0] is df:
            return cached[1]
        base = df
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            # NTZ→LTZ reinterprets the wall-clock in the session zone;
            # value-preserving ONLY under UTC. make_session pins UTC,
            # but a foreign session (e.g. the external driver's) might
            # not — pin it here so event times can't silently shift.
            spark.conf.set("spark.sql.session.timeZone", "UTC")
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        if len(_EVENTS_TS_CACHE) > 8:
            _EVENTS_TS_CACHE.clear()
        # store (base, transformed): the base reference both keeps the
        # id() stable (no address reuse while the entry lives) and lets
        # the hit path verify identity, not just address equality
        _EVENTS_TS_CACHE[id(base)] = (base, df)
        return df
    return read_parquet_memo(spark, path)


def spread_scan(df: DataFrame, *keys: str) -> DataFrame:
    """Scale-adaptive pre-spread for per-row-HEAVY pipelines
    (optimization guide §2.5 input skew / §6 input splits): a scan of
    few files with few row groups yields fewer partitions than the
    session has cores, and because parquet only splits at row-group
    boundaries, ``maxPartitionBytes`` cannot widen it — so the
    expensive map side (shingle/minhash/codec/vector kernels) runs on
    a handful of tasks while the rest of the machine idles (measured
    at sf0.1: the whole shingle→md5→partial-agg map side of every
    dedup query ran as ONE 2-3 s task on the corpus' single-row-group
    parquet).

    When (and only when) the scan is narrower than
    ``defaultParallelism``, repartition to it — by ``keys`` when the
    pipeline's next shuffle is keyed (the exchange then *replaces*
    the downstream one: hash-partitioned-by-key input satisfies a
    later ``groupBy(key)`` distribution at equal partition counts),
    round-robin otherwise. On production multi-file inputs the scan
    is already at least core-wide and this is a provable no-op (no
    Exchange enters the plan). The cost when it fires is one exchange
    of the raw rows — exactly the rows the heavy stage must read
    anyway — and the decision is made from the actual scan partition
    count, not a constant, so it holds at any core count.
    """
    p = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < p:
        return df.repartition(p, *keys) if keys else df.repartition(p)
    return df


def local_table(spark: SparkSession, rows, schema) -> DataFrame:
    """A driver-built table (salt widths, query terms, centroids,
    weights) as a plan leaf that never starts a Python worker.

    ``createDataFrame(list, schema)`` pickles the rows into a
    ``parallelize`` PythonRDD, so every action that reads the table
    runs a stage through Python workers. A ``pyarrow.Table`` typed
    from the Spark schema is decoded by the JVM instead: a
    ``LocalRelation`` below ``spark.sql.execution.arrow.
    localRelationThreshold``, Arrow batches above it, whatever the
    session's ``spark.sql.execution.arrow.pyspark.enabled`` says.
    ``rows`` is a sequence of tuples in schema order; ``schema`` is a
    ``StructType`` or a DDL string."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every driver testdata table present under ``sf_dir``."""
    out: dict[str, DataFrame] = {}
    for name in TESTDATA_TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            out[name] = load_table(spark, sf_dir, name)
    return out


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load + register each table as a temp view (mirrors the driver's
    DuckDB-side view registration so ``spark.sql`` text matches)."""
    tables = load_tables(spark, sf_dir)
    for name, df in tables.items():
        df.createOrReplaceTempView(name)
    return tables
