"""Object mode: PCollection parity for arbitrary Python values.

The reference's only dataset abstraction is a ``PCollection`` of
dynamic, schema-less Clojure values — ragged maps, nested vectors,
keywords (/root/reference/src/clj/datasplash/core.clj:48,
test/datasplash/api_test.clj:548-550 pumps rows with *different key
sets* through group-by). Layer 0 (DataFrames) cannot represent that
without a schema, so this module provides the Layer 1 escape hatch
(SURVEY §7.1): a facade over a single pickled ``value: binary``
column, with the ParDo/combine/join family implemented via
Arrow-batched ``mapInPandas`` / ``applyInPandas``.

**Operator fusion.** Chained element-wise transforms (map / mapcat /
filter / keep / with_keys / timestamp routing) do NOT each become a
``mapInPandas`` node — that would pay one JVM↔Arrow↔Python round
trip over the full data per operator. Instead a ``PCollection`` holds
a *pending stage list* and materializes exactly one Python pass per
fusion barrier (shuffle, multi-output routing, partition-fn, sink) —
the same producer-consumer fusion Beam runners apply to ParDo chains
(Dataflow's "fusion optimization"). Keyed entry points fuse further:
``combine_by`` folds the pending stages *and* the partial-reduce into
the single pre-shuffle pass, and ``group_by_key``/``cogroup_by`` fold
them into the key-extraction pass, so a typical
``from_dataframe → mapcat → map → combine_by`` pipeline is exactly
two Python passes (one per shuffle side) instead of six.

Semantics parity notes:

- ``keep`` drops only ``None`` (falsey-but-not-nil survive,
  api_test.clj:412-419).
- ``combine_by`` uses the reference's 4-phase combiner contract
  (init/reduce/merge/extract, core.clj:722-774 +
  ClojureCombineFn.java:32-44) with REAL partial aggregation: a
  per-partition reduce before the shuffle, then a merge+extract
  after — the same combiner lifting Beam does, so the shuffle
  carries one accumulator per (key, partition), not every element.
- Keys are canonicalized (dicts → sorted tuples) before pickling so
  equal keys are byte-equal shuffle keys.
- DELIBERATE DIVERGENCE: cross-type numeric keys (``True``/``1``/
  ``1.0``) group TOGETHER here, following Python dict semantics
  (``True == 1 == 1.0`` and dict keys unify them — an object-mode
  ``frequencies`` over mixed ints/floats must agree with a plain
  ``collections.Counter``). Clojure ``(= 1 1.0)`` is false and Beam
  coders encode long vs double as distinct key bytes, so a ported
  pipeline keyed on mixed int/double values groups MORE finely on the
  reference. The emitted representative key is canonicalized
  (``_canon_key``: bool→int, integral float→int, recursively) so the
  output key's type is deterministic rather than partition-order
  first-seen.
- ``side_input`` broadcasts a collected pcoll into worker closures
  (``PCollectionView`` analog, core.clj:776-808).

This is the slow path by construction. Use DataFrames unless rows
are truly heterogeneous (SURVEY §7.1: "never default to it").
"""

from __future__ import annotations

import pickle
from collections.abc import Callable, Iterable, Iterator
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .pipeline import local_table

_PROTO = 4

_VALUE_SCHEMA = "value binary"
_KV_SCHEMA = "key binary, value binary"


def _dumps(v) -> bytes:
    return pickle.dumps(v, protocol=_PROTO)


def _loads(b) -> object:
    return pickle.loads(bytes(b))


# --------------------------------------------------- multi-output results

@dataclass
class MultiResult:
    """``side-outputs`` result (core.clj:302-314): (tag, value) pairs
    routed to separate output PCollections."""

    kvs: list  # [(tag, value), ...]


def side_outputs(*kvs) -> MultiResult:
    """``(side-outputs :a x :b y)`` (core.clj:304-314): tag/value
    alternating args → :class:`MultiResult`."""
    if len(kvs) % 2:
        raise ValueError("side_outputs takes alternating tag, value pairs")
    return MultiResult(list(zip(kvs[::2], kvs[1::2])))


@dataclass
class TimeStamped:
    """``with-timestamp`` result (core.clj:316-326): element plus an
    event timestamp; nestable inside/around :func:`side_outputs`."""

    timestamp: object
    result: object


def with_timestamp(timestamp, result) -> TimeStamped:
    return TimeStamped(timestamp, result)


#: element-metadata wrapper marker: values carrying a timestamp are
#: pickled as (_TS_MARKER, ts, value); everything else is pickled raw,
#: so plain pcolls and timestamped pcolls interoperate
_TS_MARKER = "__ds_ts__"


def _wrap_ts(val, ts) -> object:
    return (_TS_MARKER, ts, val) if ts is not None else val


def _loads_elem(raw) -> tuple:
    """→ (value, timestamp-or-None)."""
    v = _loads(raw)
    if isinstance(v, tuple) and len(v) == 3 and v[0] == _TS_MARKER:
        return v[2], v[1]
    return v, None


def _route(result, inherited_ts=None):
    """Walk a ParDo result the way the reference's output-to-context
    does (core.clj:328-360): yield (tag, ts, value) leaves.
    MultiResult assigns tags (replacing any outer tag); TimeStamped
    sets the timestamp for everything beneath it (inner wins); both
    nest arbitrarily."""
    todo = [(result, None, inherited_ts)]
    while todo:
        ent, tag, ts = todo.pop(0)
        if isinstance(ent, MultiResult):
            todo.extend((sub, t, ts) for t, sub in ent.kvs)
        elif isinstance(ent, TimeStamped):
            todo.insert(0, (ent.result, tag, ent.timestamp))
        else:
            yield tag, ts, ent


#: a fused stage: (value, inherited_ts) → iterable of ParDo results
#: (plain values / MultiResult / TimeStamped). The ts argument exists
#: for metadata accessors (``timestamps``); ordinary transforms ignore
#: it — outputs inherit the input element's timestamp, Beam ParDo
#: semantics, unless a ``with_timestamp`` wrapper overrides.
_Stage = Callable[[object, object], Iterable]


def _apply_stages(stages: tuple, i: int, val, ts, out: list) -> None:
    """Run one element through the fused stage chain, appending
    (leaf, ts) results to ``out``. MultiResult here — i.e. without
    declared side_outputs — is an error, as in Beam (an undeclared
    TupleTag)."""
    if i == len(stages):
        out.append((val, ts))
        return
    for res in stages[i](val, ts):
        if isinstance(res, (MultiResult, TimeStamped)):
            for tag, ts2, leaf in _route(res, ts):
                if tag is not None:
                    raise ValueError(
                        f"side-output tag {tag!r} emitted without "
                        "declared side_outputs"
                    )
                _apply_stages(stages, i + 1, leaf, ts2, out)
        else:
            _apply_stages(stages, i + 1, res, ts, out)


def _each_batch_fn(decode, stages):
    """Build a worker-side generator: Arrow batches → one list of
    (value, ts) per batch, pending stages applied. Standalone (not a
    bound method) so closures ship only ``decode``/``stages`` — never
    the PCollection (whose DataFrame drags the driver SparkContext)."""

    def gen(batches) -> Iterator[list]:
        for b in batches:
            buf: list = []
            for val, ts in decode(b):
                _apply_stages(stages, 0, val, ts, buf)
            yield buf

    return gen


def _decode_binary(b) -> Iterator[tuple]:
    """Default batch decoder: the canonical pickled value column."""
    for raw in b["value"]:
        yield _loads_elem(raw)


def _decode_records(b) -> Iterator[tuple]:
    """Typed-DataFrame entry decoder: rows → plain dicts, no pickle
    round-trip (fused into the first materialized pass)."""
    for rec in b.to_dict("records"):
        yield rec, None


def _canon(v):
    """Normalize to a deterministic structure so equal keys pickle to
    equal bytes (dict iteration order, sets, cross-type numeric
    equality: Python has ``False == 0 == 0.0`` and dict keys unify
    them, so the shuffle key must too)."""
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, float) and v.is_integer():
        return int(v)
    if isinstance(v, dict):
        # sort by repr: dict keys may mix incomparable types (ragged
        # Clojure-style values are object mode's whole reason to exist)
        return (
            "__dict__",
            tuple(
                sorted(
                    ((_canon(k), _canon(x)) for k, x in v.items()), key=repr
                )
            ),
        )
    if isinstance(v, (set, frozenset)):
        return ("__set__", tuple(sorted((_canon(x) for x in v), key=repr)))
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    return v


def _canon_key(k):
    """Deterministic REPRESENTATIVE of a key for output emission:
    numerics normalized exactly like :func:`_canon` (bool→int,
    integral float→int, recursively through containers) but container
    TYPES preserved (a dict key stays a dict). Without this the
    emitted key for a ``True``/``1``/``1.0`` group would be whichever
    variant a partition saw first — partition-order-dependent."""
    if isinstance(k, bool):
        return int(k)
    if isinstance(k, float) and k.is_integer():
        return int(k)
    if isinstance(k, dict):
        return {_canon_key(a): _canon_key(b) for a, b in k.items()}
    if isinstance(k, frozenset):
        return frozenset(_canon_key(x) for x in k)
    if isinstance(k, set):
        return {_canon_key(x) for x in k}
    if isinstance(k, tuple):
        return tuple(_canon_key(x) for x in k)
    if isinstance(k, list):
        return [_canon_key(x) for x in k]
    return k


def _key_bytes(k) -> bytes:
    return _dumps(_canon(k))


#: per-partition cap on key-memo / partial-accumulator tables in
#: object mode. Near-unique keys (the corpus-scale worst case) would
#: otherwise grow per-partition Python dicts with distinct-key count;
#: at the cap the memo stops admitting entries and combiner tables
#: flush a partial frame downstream (the post-shuffle merge combines
#: flushes — same contract as multiple upstream partitions). Beam's
#: combiner lifting bounds memory the same way (capped cache +
#: eviction in PartialGroupByKeyCombiningValues).
_PARTIAL_CACHE_CAP = 100_000


class _KeyBytes:
    """Per-partition memo for :func:`_key_bytes`: hashable keys (the
    overwhelmingly common case — strings, ints, tuples) pay one
    canonicalize+pickle per DISTINCT key instead of per element;
    unhashable keys (dicts, sets) fall through to the direct path.
    Python-equal keys of different types (``True``/``1``) memo to the
    same bytes because :func:`_canon` normalizes numerics the same
    way dict hashing unifies them. Bounded at ``_PARTIAL_CACHE_CAP``
    distinct keys: beyond it, new keys pay the direct path (cached
    hot keys keep their hit) instead of growing the dict without
    bound on near-unique key streams."""

    __slots__ = ("cache", "cap")

    def __init__(self, cap: int | None = None):
        # cap is resolved DRIVER-side by callers (captured into the
        # shipped closure) so tests/configs patching the module value
        # take effect; the worker's re-imported module default would
        # not see a driver-side patch.
        self.cache: dict = {}
        self.cap = _PARTIAL_CACHE_CAP if cap is None else cap

    def __call__(self, k) -> bytes:
        try:
            kb = self.cache.get(k)
            if kb is None:
                kb = _key_bytes(k)
                if len(self.cache) < self.cap:
                    self.cache[k] = kb
            return kb
        except TypeError:  # unhashable key
            return _key_bytes(k)


#: canonical pickled bytes of a nil key — nil-key routing in cogroup
#: is a RELATIONAL filter on this constant, not a Python pass
_NIL_KEY = _key_bytes(None)


@dataclass
class CombineFn:
    """The reference's combiner 4-tuple (core.clj:722-774): identical
    contract to a Spark ``Aggregator`` (zero/reduce/merge/finish)."""

    reducef: Callable  # (acc, elem) -> acc
    initf: Callable = None  # () -> acc
    combinef: Callable = None  # (acc, acc) -> acc
    extractf: Callable = None  # acc -> out

    @classmethod
    def of(cls, f) -> "CombineFn":
        """1-arg form (core.clj:739-744): a plain fn used as reduce &
        merge (``(combine-fn +)``), or a map-like dict."""
        if isinstance(f, CombineFn):
            return f
        if isinstance(f, dict):
            return cls(
                reducef=f["reduce"],
                initf=f.get("init"),
                combinef=f.get("combine"),
                extractf=f.get("extract"),
            )
        return cls(reducef=f, combinef=f)

    def init(self):
        return None if self.initf is None else self.initf()

    def reduce(self, acc, elem):
        if _is_empty(acc):
            if self.initf is None:
                return elem
            acc = self.initf()
        return self.reducef(acc, elem)

    def merge(self, a, b):
        if _is_empty(a):
            return b
        if _is_empty(b):
            return a
        return (self.combinef or self.reducef)(a, b)

    def extract(self, acc):
        return acc if self.extractf is None else self.extractf(acc)


class _Empty:
    """Absent-accumulator sentinel. Identity does NOT survive
    pickling to workers — always test with :func:`_is_empty`."""

    def __repr__(self) -> str:  # pragma: no cover
        return "<empty-acc>"


_EMPTY = _Empty()


def _is_empty(x) -> bool:
    return isinstance(x, _Empty)


class PCollection:
    """A distributed collection of arbitrary Python values, backed by
    a one-column (``value: binary``) DataFrame plus a pending list of
    fused element-wise stages (see module docstring)."""

    def __init__(self, df: DataFrame, _decode=None, _stages: tuple = ()):
        self._base = df
        self._decode = _decode if _decode is not None else _decode_binary
        self._stages = tuple(_stages)
        # already-canonical frames need no materialization pass
        self._mat = (
            df if self._decode is _decode_binary and not self._stages else None
        )

    # ------------------------------------------------------------ build
    @classmethod
    def from_items(
        cls, spark: SparkSession, items: Iterable, num_partitions: int | None = None
    ) -> "PCollection":
        rows = [(_dumps(v),) for v in items]
        df = spark.createDataFrame(rows or [], schema=_VALUE_SCHEMA)
        if num_partitions:
            df = df.repartition(num_partitions)
        return cls(df)

    @classmethod
    def from_dataframe(
        cls, df: DataFrame, rebalance: int | bool | None = None
    ) -> "PCollection":
        """Rows become plain dicts (column → value). Lazy: the
        conversion fuses into the first materialized Python pass.

        ``rebalance`` — parallelism for the Python stages that follow
        (the slow path: every downstream element-wise op is Python).
        Default ``None`` round-robin-repartitions to the session's
        default parallelism when the input has fewer partitions — the
        rebalancing a Beam runner applies before a fused ParDo chain
        (a one-partition parquet file would otherwise run the whole
        Python pipeline on one core). Pass ``False`` to keep the
        input layout, or an int for an explicit partition count."""
        if rebalance is None:
            target = df.sparkSession.sparkContext.defaultParallelism
            if df.rdd.getNumPartitions() < target:
                df = df.repartition(target)
        elif rebalance:
            df = df.repartition(int(rebalance))
        return cls(df, _decode=_decode_records)

    @property
    def df(self) -> DataFrame:
        """The canonical pickled-value frame; materializes (and
        memoizes) any pending fused stages as ONE ``mapInPandas``."""
        if self._mat is None:
            import pandas as pd

            decode, stages = self._decode, self._stages

            def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
                for b in batches:
                    buf: list = []
                    for val, ts in decode(b):
                        _apply_stages(stages, 0, val, ts, buf)
                    yield pd.DataFrame(
                        {"value": [_dumps(_wrap_ts(v, t)) for v, t in buf]}
                    )

            self._mat = self._base.mapInPandas(run, schema=_VALUE_SCHEMA)
            self._decode, self._stages = _decode_binary, ()
            self._base = self._mat
        return self._mat

    @property
    def spark(self) -> SparkSession:
        return self._base.sparkSession

    def _elem(self, stage: _Stage) -> "PCollection":
        """Append one fused element-wise stage (no Spark node yet)."""
        return PCollection(self._base, self._decode, self._stages + (stage,))

    @property
    def _each_batch(self):
        """Worker-side generator factory (see :func:`_each_batch_fn`):
        yields one (value, ts) list per input Arrow batch — barriers
        with no cross-batch state emit per batch so partition output
        never accumulates in memory. Safe to close over (captures only
        decode + stages, not ``self``)."""
        return _each_batch_fn(self._decode, self._stages)

    @property
    def _each(self):
        """Element-stream variant of :meth:`_each_batch`."""
        per_batch = _each_batch_fn(self._decode, self._stages)

        def gen(batches) -> Iterator[tuple]:
            for buf in per_batch(batches):
                yield from buf

        return gen

    # --------------------------------------------------------- elementwise
    _TAGGED_SCHEMA = "tag string, value binary"

    def _map_batches_multi(
        self, per_value: Callable[[object], Iterable], tags: list
    ) -> dict:
        """Multi-output ParDo (core.clj:573-580): ONE pass over the
        input (pending stages fused in) routes every result leaf to
        its tag; untagged leaves go to the main output = first of the
        SORTED tags (core.clj:245). The tagged intermediate is
        persisted MEMORY_AND_DISK so the per-tag filters don't
        recompute the upstream once per tag (Beam's PCollectionTuple
        computes once by construction; caller owns ``.unpersist()``
        via any returned pcoll's ``.df``)."""
        import pandas as pd

        from pyspark import StorageLevel

        tag_strs = [str(t) for t in tags]
        main = sorted(tag_strs)[0]
        declared = set(tag_strs)
        each_batch = self._each_batch

        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for buf in each_batch(batches):
                out_tags, out_vals = [], []
                for val, in_ts in buf:
                    for res in per_value(val):
                        for tag, ts, leaf in _route(res, in_ts):
                            tag = main if tag is None else str(tag)
                            if tag not in declared:
                                raise ValueError(
                                    f"undeclared side-output tag {tag!r}; "
                                    f"declared: {sorted(declared)}"
                                )
                            out_tags.append(tag)
                            out_vals.append(_dumps(_wrap_ts(leaf, ts)))
                yield pd.DataFrame({"tag": out_tags, "value": out_vals})

        tagged = self._base.mapInPandas(run, schema=self._TAGGED_SCHEMA).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        return {
            t: PCollection(tagged.filter(F.col("tag") == t).select("value"))
            for t in tag_strs
        }

    def map(self, f: Callable, side_outputs: list | None = None):
        """``map`` (core.clj:612-628). With ``side_outputs`` (a list of
        tags) returns a dict tag → PCollection (core.clj:573-580);
        ``f`` returns :func:`side_outputs` / :func:`with_timestamp`
        results, nestable as in the reference."""
        if side_outputs is not None:
            return self._map_batches_multi(lambda v: (f(v),), side_outputs)
        return self._elem(lambda v, _ts, f=f: (f(v),))

    def mapcat(self, f: Callable, side_outputs: list | None = None):
        """``mapcat`` (core.clj:647-659): f returns an iterable."""
        if side_outputs is not None:
            return self._map_batches_multi(f, side_outputs)
        return self._elem(lambda v, _ts, f=f: f(v))

    def filter(self, pred: Callable) -> "PCollection":
        """``filter`` (core.clj:661-674): truthy predicate keeps."""
        return self._elem(lambda v, _ts, p=pred: (v,) if p(v) else ())

    def keep(self, f: Callable) -> "PCollection":
        """``keep`` (core.clj:676-691): drop None results ONLY."""

        def run(v, _ts, f=f):
            r = f(v)
            return () if r is None else (r,)

        return self._elem(run)

    def map_partitions(
        self,
        f: Callable[[Iterator], Iterable],
        initialize: Callable | None = None,
        side_outputs: list | None = None,
        start_bundle: Callable | None = None,
        finish_bundle: Callable | None = None,
        teardown: Callable | None = None,
    ):
        """``pardo`` + worker lifecycle (core.clj:602-610, 226-233,
        274-277; AbstractClojureDoFn.java:33-52): f(iterator-of-values)
        → iterable, with the full DoFn lifecycle:

        - ``initialize()`` once per task; its result is passed as a
          second arg to ``f`` (the ``(system)`` accessor analog) and
          to every hook below.
        - ``start_bundle(system)`` before elements; here one Spark
          task = one bundle (Beam's bundle size is runner-chosen too).
        - ``finish_bundle(system)`` after elements; may RETURN an
          iterable of extra results to emit (Beam's
          ``FinishBundleContext.output`` analog).
        - ``teardown(system)`` in a finally — runs even when ``f``
          raises.

        Results may be :func:`side_outputs` / :func:`with_timestamp`
        wrapped; with ``side_outputs`` declared, returns a dict
        tag → PCollection. Pending element-wise stages fuse into the
        same pass (they feed the iterator)."""
        import pandas as pd

        def lifecycle(values: Iterator) -> Iterator:
            system = initialize() if initialize else None
            try:
                if start_bundle is not None:
                    start_bundle(system)
                yield from (f(values, system) if initialize else f(values))
                if finish_bundle is not None:
                    yield from (finish_bundle(system) or ())
            finally:
                if teardown is not None:
                    teardown(system)

        if side_outputs is not None:
            # partition-level fn has no per-element identity: feed the
            # whole partition through the router as one result stream
            return self._multi_from_partitions(lifecycle, side_outputs)

        each = self._each

        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            def values() -> Iterator:
                for v, _ts in each(batches):
                    yield v

            out = []
            for r in lifecycle(values()):
                for tag, ts, leaf in _route(r):
                    if tag is not None:
                        raise ValueError(
                            f"side-output tag {tag!r} emitted without "
                            "declared side_outputs"
                        )
                    out.append(_dumps(_wrap_ts(leaf, ts)))
            yield pd.DataFrame({"value": out})

        return PCollection(self._base.mapInPandas(run, schema=_VALUE_SCHEMA))

    def _multi_from_partitions(self, per_partition: Callable, tags: list) -> dict:
        import pandas as pd

        from pyspark import StorageLevel

        tag_strs = [str(t) for t in tags]
        main = sorted(tag_strs)[0]
        declared = set(tag_strs)
        each = self._each

        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            def values() -> Iterator:
                for v, _ts in each(batches):
                    yield v

            out_tags, out_vals = [], []
            for res in per_partition(values()):
                for tag, ts, leaf in _route(res):
                    tag = main if tag is None else str(tag)
                    if tag not in declared:
                        raise ValueError(
                            f"undeclared side-output tag {tag!r}; "
                            f"declared: {sorted(declared)}"
                        )
                    out_tags.append(tag)
                    out_vals.append(_dumps(_wrap_ts(leaf, ts)))
            yield pd.DataFrame({"tag": out_tags, "value": out_vals})

        tagged = self._base.mapInPandas(run, schema=self._TAGGED_SCHEMA).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        return {
            t: PCollection(tagged.filter(F.col("tag") == t).select("value"))
            for t in tag_strs
        }

    def partition_by(self, f: Callable, n: int) -> list:
        """``partition-by`` (core.clj:842-853): route each element to
        one of ``n`` output pcolls by ``f(elem, n)`` → index. Built on
        the multi-output ParDo (one pass, persisted intermediate,
        n filtered views) — the same shape Beam's ``Partition`` uses."""
        tags = [str(i) for i in range(n)]

        def route(v):
            i = f(v, n)
            if not (0 <= i < n):
                raise ValueError(f"partition index {i} out of range 0..{n - 1}")
            return MultiResult([(str(i), v)])

        outs = self._map_batches_multi(lambda v: (route(v),), tags)
        return [outs[t] for t in tags]

    def timestamps(self) -> "PCollection":
        """→ pcoll of (timestamp, value) pairs; None for elements that
        never got a timestamp (the Beam ``timestamp`` accessor). The
        pair itself carries no timestamp metadata."""
        return self._elem(lambda v, ts: (TimeStamped(None, (ts, v)),))

    # ------------------------------------------------------------- keyed
    def with_keys(self, key_fn: Callable) -> "PCollection":
        """``with-keys`` (core.clj:903-924): → pcoll of (k, v) pairs."""
        return self._elem(lambda v, _ts, kf=key_fn: ((kf(v), v),))

    def _to_kv(self) -> DataFrame:
        """(k, v) pairs → two binary columns (canonical key bytes);
        pending stages fuse into the same pass. Grouping drops any
        element timestamp, as Beam's GBK window/ts semantics are
        handled separately."""
        import pandas as pd

        each_batch = self._each_batch
        cap = _PARTIAL_CACHE_CAP  # resolved driver-side, shipped in closure

        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            kb = _KeyBytes(cap)
            for buf in each_batch(batches):
                keys, vals = [], []
                for pair, _ts in buf:
                    k, v = pair
                    keys.append(kb(k))
                    vals.append(_dumps((k, v)))
                yield pd.DataFrame({"key": keys, "value": vals})

        return self._base.mapInPandas(run, schema=_KV_SCHEMA)

    def _grouped(self, kv: DataFrame):
        """``groupBy("key")`` with the partitioning pinned: AQE's
        byte-based shuffle coalescing would squeeze a small-but-
        Python-hot grouped stage onto one core (object-mode group
        handlers are CPU-bound, not IO-bound). The explicit hash
        repartition satisfies the groupBy's clustering requirement, so
        no second Exchange is added."""
        n = kv.sparkSession.sparkContext.defaultParallelism
        return kv.repartition(n, "key").groupBy("key")

    def group_by_key(self) -> "PCollection":
        """``group-by-key`` (core.clj:926-935): pcoll of (k, v) →
        pcoll of (k, [v...]).

        Giant-key posture (VERDICT r8 item 6): this used to be
        ``applyInPandas``, which materializes each key's ENTIRE group
        as one Arrow batch + one pandas frame + the pickled rows —
        three copies, and a single-record-batch ceiling, so a hot key
        OOMed long before the executor actually had to. The plan is
        now the same shuffle + sort-within-partitions that grouped-map
        performs internally, but assembly streams: Arrow batches
        arrive at ``maxRecordsPerBatch`` granularity, values append to
        ONE growing Python list per in-flight key (keys are contiguous
        after the sort), and each completed ``(k, [v...])`` flushes as
        soon as the key changes. The irreducible bound that remains is
        the OUTPUT's own contract — one key's value LIST must exist to
        be emitted (Beam hands a lazy Iterable instead); a measured
        10M-value hot key assembles in seconds (see SCALING.md). For
        skewed keys at scale prefer :meth:`combine_by`, which
        partial-reduces before the shuffle."""
        import pandas as pd

        def assemble(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            cur_kb = None  # canonical key bytes of the in-flight group
            cur_key = None
            cur_vals: list | None = None
            out: list[bytes] = []
            for pdf in batches:
                for kb, raw in zip(pdf["key"], pdf["value"]):
                    if kb != cur_kb:
                        if cur_kb is not None:
                            out.append(_dumps((cur_key, cur_vals)))
                        k, v = _loads(raw)
                        cur_kb = kb
                        # canonicalize the representative: all keys in
                        # the group are Python-equal but may differ in
                        # type (True/1/1.0); raw first-seen would be
                        # partition-order-dependent
                        cur_key = _canon_key(k)
                        cur_vals = [v]
                    else:
                        cur_vals.append(_loads(raw)[1])
                if len(out) >= 64:  # flush completed groups eagerly
                    yield pd.DataFrame({"value": out})
                    out = []
            if cur_kb is not None:
                out.append(_dumps((cur_key, cur_vals)))
            if out:
                yield pd.DataFrame({"value": out})

        kv = self._to_kv()
        n = kv.sparkSession.sparkContext.defaultParallelism
        return PCollection(
            kv.repartition(n, "key")
            .sortWithinPartitions("key")
            .mapInPandas(assemble, schema=_VALUE_SCHEMA)
        )

    def group_by(self, key_fn: Callable) -> "PCollection":
        """``group-by`` (core.clj:990-1020): with-keys + group-by-key."""
        return self.with_keys(key_fn).group_by_key()

    def combine_globally(self, f, without_defaults: bool = False) -> "PCollection":
        """``combine :global`` (core.clj:1882-1913): → singleton pcoll.
        Partial-reduce per partition (pending stages fused into the
        same pass), final merge of the (tiny) partials.

        Empty input emits ``extract(init())`` when the combiner has an
        init phase (Beam's default-output behavior; cf. mean-fn → 0,
        core.clj:2012) unless ``without_defaults`` (core.clj:1869-1870)
        — combiners with no init stay empty either way."""
        import pandas as pd

        fn = CombineFn.of(f)
        each = self._each

        def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            acc = _EMPTY
            for v, _ts in each(batches):
                acc = fn.reduce(acc, v)
            if not _is_empty(acc):
                yield pd.DataFrame(
                    {"key": [b"g"], "value": [_dumps(("__global__", acc))]}
                )

        partials = self._base.mapInPandas(partial, schema=_KV_SCHEMA)

        def final(pdf: pd.DataFrame) -> pd.DataFrame:
            acc = _EMPTY
            for raw in pdf["value"]:
                _, a = _loads(raw)
                acc = fn.merge(acc, a)
            return pd.DataFrame({"value": [_dumps(fn.extract(acc))]})

        result = partials.groupBy("key").applyInPandas(final, schema=_VALUE_SCHEMA)
        if not without_defaults and fn.initf is not None:
            spark = self._base.sparkSession
            default = local_table(
                spark, [(_dumps(fn.extract(fn.init())),)], _VALUE_SCHEMA
            )
            # keep the default row only when the aggregate is empty:
            # anti-join against the (0-or-1-row) result, distributively
            default_if_empty = default.join(
                result, F.lit(True), "left_anti"
            )
            result = result.unionAll(default_if_empty)
        return PCollection(result)

    def combine_by(self, key_fn: Callable, f) -> "PCollection":
        """``combine-by`` (core.clj:1915-1946): per-key combine with
        Beam-style combiner lifting — reduce to one accumulator per
        (key, partition) BEFORE the shuffle (ClojureCombineFn.java:
        32-38; pending element-wise stages fuse into the same pass),
        merge + extract after. Output: pcoll of (k, out)."""
        import pandas as pd

        fn = CombineFn.of(f)
        each = self._each
        cap = _PARTIAL_CACHE_CAP  # resolved driver-side, shipped in closure

        def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            # bounded combiner lifting: one accumulator per distinct
            # key per partition, but FLUSHED as a partial frame
            # whenever the table reaches _PARTIAL_CACHE_CAP entries —
            # near-unique keys (corpus-scale group-by-id) would
            # otherwise grow this dict with the partition's distinct-
            # key count and OOM the Python worker. The post-shuffle
            # merge treats multiple flushes from one partition exactly
            # like partials from different partitions.
            accs: dict[bytes, object] = {}
            reprs: dict[bytes, object] = {}
            kb_of = _KeyBytes(cap)

            def flush() -> pd.DataFrame:
                frame = pd.DataFrame(
                    {
                        "key": list(accs.keys()),
                        "value": [
                            _dumps((reprs[kb], acc))
                            for kb, acc in accs.items()
                        ],
                    }
                )
                accs.clear()
                reprs.clear()
                return frame

            for v, _ts in each(batches):
                k = key_fn(v)
                kb = kb_of(k)
                accs[kb] = fn.reduce(accs.get(kb, _EMPTY), v)
                if kb not in reprs:
                    reprs[kb] = _canon_key(k)
                if len(accs) >= cap:
                    yield flush()
            if accs:
                yield flush()

        partials = self._base.mapInPandas(partial, schema=_KV_SCHEMA)

        def final(pdf: pd.DataFrame) -> pd.DataFrame:
            acc = _EMPTY
            k = None
            for raw in pdf["value"]:
                k, a = _loads(raw)
                acc = fn.merge(acc, a)
            return pd.DataFrame({"value": [_dumps((k, fn.extract(acc)))]})

        return PCollection(
            self._grouped(partials).applyInPandas(final, schema=_VALUE_SCHEMA)
        )

    def distinct(self) -> "PCollection":
        """``distinct`` (core.clj:1741-1756) for arbitrary values."""
        return (
            self.with_keys(lambda v: v)
            .group_by_key()
            .map(lambda kv: kv[0])
        )

    # ------------------------------------------------------------ sinks
    def collect(self) -> list:
        return [_loads_elem(r["value"])[0] for r in self.df.collect()]

    def count(self) -> int:
        return self.df.count()

    def to_dataframe(
        self, spark: SparkSession, schema, timestamp_field: str | None = None
    ) -> DataFrame:
        """Dict values → typed DataFrame (exit from object mode;
        pending stages fuse into the conversion pass). With
        ``timestamp_field``, each element's event timestamp (from
        :func:`with_timestamp`) lands in that column (None when
        absent) — include it in ``schema``."""
        import pandas as pd

        each_batch = self._each_batch

        def conv(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for buf in each_batch(batches):
                rows = []
                for val, ts in buf:
                    if timestamp_field is not None:
                        val = dict(val)
                        val[timestamp_field] = ts
                    rows.append(val)
                if rows:
                    yield pd.DataFrame(rows)

        return self._base.mapInPandas(conv, schema=schema)


def side_input(pcoll: PCollection, view: str = "list"):
    """``view`` / side inputs (core.clj:776-808): collect + broadcast.
    ``view`` ∈ list | singleton | map | multi-map."""
    items = pcoll.collect()
    if view == "singleton":
        if len(items) != 1:
            raise ValueError(f"singleton view over {len(items)} elements")
        payload = items[0]
    elif view == "map":
        payload = dict(items)
    elif view == "multi-map":
        payload = {}
        for k, v in items:
            payload.setdefault(k, []).append(v)
    else:
        payload = items
    sc = pcoll.spark.sparkContext
    return sc.broadcast(payload)


def cogroup_by(
    specs: list[tuple[PCollection, Callable]], join_nil: bool = False
) -> PCollection:
    """``cogroup-by`` (core.clj:1572-1691): n-way cogroup → pcoll of
    (k, [vec₁ … vecₙ]). nil keys do NOT join by default — each
    nil-keyed element emits its own singleton group
    (greedy-emit-cogbkresult, core.clj:1561-1570) unless join_nil.

    One fused Python pass per input side (tagging + key extraction);
    nil-key routing is a relational filter on the constant nil key
    bytes, not an extra Python pass."""
    import pandas as pd

    n = len(specs)

    kv_frames = []
    for i, (pc, key_fn) in enumerate(specs):
        tagged = pc._elem(
            lambda v, _ts, i=i, key_fn=key_fn: ((key_fn(v), (i, v)),)
        )
        kv_frames.append(tagged._to_kv())

    unioned = kv_frames[0]
    for kv in kv_frames[1:]:
        unioned = unioned.unionAll(kv)

    if not join_nil:
        # nil-keyed elements bypass the shuffle as singleton groups
        nil_rows = unioned.filter(F.col("key") == F.lit(_NIL_KEY))
        unioned = unioned.filter(F.col("key") != F.lit(_NIL_KEY))

        def nil_run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for b in batches:
                out = []
                for raw in b["value"]:
                    _k, iv = _loads(raw)
                    out.append(_dumps(_nil_group(iv, n)))
                yield pd.DataFrame({"value": out})

        nil_part = nil_rows.select("value").mapInPandas(
            nil_run, schema=_VALUE_SCHEMA
        )

    def assemble(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # streaming group assembly over sort-within-partitions batches
        # (same giant-key posture as group_by_key, VERDICT r8 item 6):
        # one growing per-side list per in-flight key instead of a
        # whole-group Arrow batch + pandas frame materialization
        cur_kb = None
        cur_key = None
        sides: list[list] | None = None
        out: list[bytes] = []
        for pdf in batches:
            for kb, raw in zip(pdf["key"], pdf["value"]):
                k, (i, v) = _loads(raw)
                if kb != cur_kb:
                    if cur_kb is not None:
                        out.append(_dumps((cur_key, sides)))
                    cur_kb = kb
                    # canonical representative — the raw key's TYPE
                    # may vary within a group (True/1/1.0 group
                    # together; see module parity notes)
                    cur_key = _canon_key(k)
                    sides = [[] for _ in range(n)]
                sides[i].append(v)
            if len(out) >= 64:
                yield pd.DataFrame({"value": out})
                out = []
        if cur_kb is not None:
            out.append(_dumps((cur_key, sides)))
        if out:
            yield pd.DataFrame({"value": out})

    n_parts = unioned.sparkSession.sparkContext.defaultParallelism
    grouped = (
        unioned.repartition(n_parts, "key")
        .sortWithinPartitions("key")
        .mapInPandas(assemble, schema=_VALUE_SCHEMA)
    )
    if not join_nil:
        grouped = grouped.unionAll(nil_part)
    return PCollection(grouped)


def _nil_group(tagged_value, n):
    i, v = tagged_value
    sides: list[list] = [[] for _ in range(n)]
    sides[i].append(v)
    return (None, sides)


def join_by(
    specs: list[tuple[PCollection, Callable, bool]],
    collector: Callable = None,
) -> PCollection:
    """``join-by`` (core.clj:1696-1739): cogroup + per-key cartesian
    product. spec = (pcoll, key_fn, required); an empty optional side
    contributes ``[None]`` (outer semantics); required sides drop the
    key when empty. Collector default merges dicts (the reference's
    canonical ``merge`` usage). The expansion fuses into whatever
    consumes the joined pcoll (one Python pass after the cogroup)."""
    from itertools import product

    cg = cogroup_by([(pc, key_fn) for pc, key_fn, _ in specs])
    required = [req for _, _, req in specs]

    def expand(kv):
        _, sides = kv
        pools = []
        for side, req in zip(sides, required):
            if not side:
                if req:
                    return ()
                side = [None]
            pools.append(side)
        out = []
        for combo in product(*pools):
            if collector is not None:
                out.append(collector(*combo))
            else:
                merged = {}
                for part in combo:
                    if part:
                        merged.update(part)
                out.append(merged)
        return out

    return cg.mapcat(expand)


def concat(*pcolls: PCollection) -> PCollection:
    """``concat`` (core.clj:1811-1821): union-all."""
    df = pcolls[0].df
    for p in pcolls[1:]:
        df = df.unionAll(p.df)
    return PCollection(df)


# ------------------------------------------------------------------
# API-name parity shims (datasplash.api symbols whose Spark analog is
# trivial but deserves the reference's name)
# ------------------------------------------------------------------

def make_kv(k, v) -> tuple:
    """``make-kv`` (api.clj): KV pairs in object mode ARE Python
    2-tuples (the KV coder is cloudpickle; no wrapper class)."""
    return (k, v)


def kv_key(kv):
    """``key`` (api.clj) for object-mode KV tuples."""
    return kv[0]


def kv_val(kv):
    """``val`` (api.clj) for object-mode KV tuples."""
    return kv[1]


def from_edn(pcoll: PCollection) -> PCollection:
    """``from-edn`` (api.clj / core.clj): parse each EDN-string
    element into data — ``map`` of the full EDN reader
    (``functions.edn.loads``: tagged literals, ``#inst``, ``#uuid``,
    ``#_`` discard)."""
    from .functions.edn import loads as _edn_loads

    return pcoll.map(_edn_loads)


def to_edn(pcoll: PCollection) -> PCollection:
    """``to-edn`` (api.clj / core.clj): render each element as an
    EDN string (``functions.edn.dumps``)."""
    from .functions.edn import dumps as _edn_dumps

    return pcoll.map(_edn_dumps)
