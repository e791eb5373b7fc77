"""Distributed sketch aggregation — the UDAF layer.

PySpark has no user-defined aggregate functions, so the reference's
partial/combine/output protocol (reference
AbstractBloomFilterAggregation.java:19-60 + BloomFilterStateSerializer
.java:21-47) is rebuilt as explicit dataflow:

  ungrouped:  df.mapInArrow(partial build)   — one tiny binary row per
              input partition (this is Presto's "partial" phase; no
              shuffle of raw rows, only of sketch blobs)
              → repartition(fan_in).mapInArrow(merge)  — intermediate
              tree level, bounds the final fan-in (north_rule:
              "two-level treeAggregate-style partial-sketch merges to
              avoid driver hotspots")
              → driver merges ≤ fan_in blobs ("final" phase).

  grouped:    df.groupBy(key).applyInPandas(build)     — Catalyst plans
              the hash shuffle; for skewed keys the salted variant
              groups by (key, salt) first and then merges per key, so
              no single task owns a whole hot key.

Scale notes (100 TB / 1000 executors): the partial phase reads each
input partition exactly once and emits O(sketch_size) bytes per
partition — shuffle volume is partitions × sketch bytes, independent of
row count.  fan_in bounds both the level-2 task count and the driver's
final merge work.  applyInPandas materializes each group in one worker
(that is *why* salting is mandatory for a 55%-skewed `source`).
"""

from __future__ import annotations

import contextlib
import copy
from collections.abc import Callable, Iterator
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa

from pyspark.sql import DataFrame, Window, functions as F

from presto_bloomfilter_spark.functions.bloom import BloomFilter
from presto_bloomfilter_spark.functions.cbf import CountingBloomFilter
from presto_bloomfilter_spark.functions.cms import CountMinSketch
from presto_bloomfilter_spark.functions.countsketch import CountSketch
from presto_bloomfilter_spark.functions.ddsketch import DDSketch
from presto_bloomfilter_spark.functions.fd import ExactGram, FrequentDirections
from presto_bloomfilter_spark.functions.hll import HyperLogLog
from presto_bloomfilter_spark.functions.kll import KLLSketch
from presto_bloomfilter_spark.functions.mg import MisraGries
from presto_bloomfilter_spark.functions.moments import MomentsSketch
from presto_bloomfilter_spark.functions.multi import MultiSketch
from presto_bloomfilter_spark.functions.sbbf import SplitBlockBloomFilter
from presto_bloomfilter_spark.functions.tdigest import TDigest
from presto_bloomfilter_spark.functions.theta import ThetaSketch
from presto_bloomfilter_spark.functions.serialization import sketch_from_bytes

DEFAULT_FAN_IN = 16

_ARROW_BATCH_KEY = "spark.sql.execution.arrow.maxRecordsPerBatch"


def tune_arrow_batches(df_or_spark) -> bool:
    """Pin JVM→Python Arrow transfer batches to a cache-resident size.

    Rows here carry wide ``array<int>`` token columns (~180 elements),
    so the 10,000-row default batch is ~7 MB of list data — it thrashes
    L2 on both sides of the socket.  4096-row (~3 MB) batches keep the
    produce→serialize→consume pipeline cache-resident: measured 4-7x on
    the DataFrame-path sketch build (4.0 s → 0.56 s for 75M tokens at
    local[16]).  Only applied while the conf sits at its default, so an
    explicit user setting always wins.

    NOTE: this change is session-global and persists after the call —
    lazy operators (``grouped_sketch``) return un-executed DataFrames,
    so the conf must still hold when the action finally runs.  Eager
    operators (``aggregate_sketch``) instead use the scoped
    ``_tuned_arrow_batches`` context manager, which restores the
    previous value once their job completes.  Returns whether it
    changed the conf.
    """
    spark = getattr(df_or_spark, "sparkSession", df_or_spark)
    try:
        if spark.conf.get(_ARROW_BATCH_KEY, "10000") == "10000":
            spark.conf.set(_ARROW_BATCH_KEY, "4096")
            return True
    except Exception:  # pragma: no cover — conf API unavailable
        pass
    return False


@contextlib.contextmanager
def _tuned_arrow_batches(df_or_spark):
    """Scoped form of tune_arrow_batches: set the cache-resident Arrow
    batch size for the duration of an eager job, then restore, so
    unrelated pandas-UDF workloads in the same session keep the default."""
    spark = getattr(df_or_spark, "sparkSession", df_or_spark)
    changed = tune_arrow_batches(spark)
    try:
        yield
    finally:
        if changed:
            try:
                spark.conf.set(_ARROW_BATCH_KEY, "10000")
            except Exception:  # pragma: no cover
                pass


class TokenDedupAccumulator:
    """Map-side pre-aggregation of duplicate token ids before sketch insert.

    Token corpora are heavily Zipf-skewed over a bounded vocabulary, so a
    partition sees each id thousands of times.  Bloom/HLL inserts are
    idempotent and CMS accepts weighted inserts, so counting duplicates
    first and hashing each unique id once is semantically identity — but
    it turns ~200 bytes of uint64 hash traffic per token into one
    cache-resident ``np.bincount`` increment (~8 bytes/token), which is
    the difference between a memory-bandwidth-bound kernel (measured
    0.39 scaling efficiency 4→16 cores on this host) and a compute-bound
    one (0.81+).  This is the sketch-domain analogue of Spark's map-side
    partial aggregation before a shuffle.

    Adaptive range: counts live in a [base, base+len) int64 array grown
    on demand; if the observed id range exceeds ``RANGE_CAP`` (i.e. the
    column is not a bounded vocab), we flush and fall back to direct
    vectorized inserts — no pathological memory use on arbitrary ints.
    """

    RANGE_CAP = 1 << 22  # 4M distinct ids → 32MB counts array, max

    def __init__(self, sketch, weighted: bool):
        self.sketch = sketch
        self.counts: np.ndarray | None = None
        self.base = 0
        self.direct = False
        self.weighted = weighted

    def add_flat(self, flat: np.ndarray) -> None:
        if flat.size == 0:
            return
        if self.direct:
            self.sketch.add_ints(flat)
            return
        mn = int(flat.min())
        mx = int(flat.max())
        if self.counts is None:
            if mx - mn >= self.RANGE_CAP:
                self.direct = True
                self.sketch.add_ints(flat)
                return
            # cap the PADDED size too, not just the raw range, so the
            # first allocation never exceeds RANGE_CAP counts
            pad = max(1024, (mx - mn) // 4)
            pad = min(pad, max(0, (self.RANGE_CAP - (mx - mn + 1)) // 2))
            self.base = mn - pad
            self.counts = np.zeros(mx + pad - self.base + 1, dtype=np.int64)
        elif mn < self.base or mx >= self.base + len(self.counts):
            nb = min(self.base, mn)
            ne = max(self.base + len(self.counts), mx + 1)
            if ne - nb > self.RANGE_CAP:
                self.flush()
                self.direct = True
                self.sketch.add_ints(flat)
                return
            grown = np.zeros(ne - nb, dtype=np.int64)
            grown[self.base - nb : self.base - nb + len(self.counts)] = self.counts
            self.base, self.counts = nb, grown
        self.counts += np.bincount(flat - self.base, minlength=len(self.counts))

    def flush(self) -> None:
        """Push accumulated (id, count) pairs into the wrapped sketch."""
        if self.counts is None:
            return
        nz = np.nonzero(self.counts)[0]
        if nz.size:
            vals = nz + self.base
            if self.weighted:
                self.sketch.add_ints(vals, counts=self.counts[nz])
            else:
                total = int(self.counts[nz].sum())
                self.sketch.add_ints(vals)
                # keep the offered-rows metric meaning rows, not uniques
                if hasattr(self.sketch, "approx_items"):
                    self.sketch.approx_items += total - int(nz.size)
        self.counts = None

    def finish(self):
        self.flush()
        return self.sketch

    def to_bytes(self) -> bytes:
        return self.finish().to_bytes()


def _unwrap(sk):
    return sk.finish() if isinstance(sk, TokenDedupAccumulator) else sk


@dataclass(frozen=True)
class SketchSpec:
    """factory() → empty sketch; update(sketch, arrow RecordBatch) →
    vectorized bulk insert of one batch. Both run inside executors."""

    columns: tuple[str, ...]
    factory: Callable[[], object]
    update: Callable[[object, pa.RecordBatch], None]


# ---- batch extractors (Arrow-level, no per-row Python) -----------------------


def _col_strings(batch: pa.RecordBatch, name: str) -> pd.Series:
    return batch.column(batch.schema.get_field_index(name)).to_pandas()


def _col_flat_tokens(batch: pa.RecordBatch, name: str) -> np.ndarray:
    """Flatten an array<int> column to one numpy vector — zero-copy via
    pyarrow ListArray.flatten() (SURVEY.md §2.3: the vectorized form of
    F.explode for sketch input)."""
    col = batch.column(batch.schema.get_field_index(name))
    flat = col.flatten()
    return flat.to_numpy(zero_copy_only=False)


def _col_floats(batch: pa.RecordBatch, name: str) -> np.ndarray:
    col = batch.column(batch.schema.get_field_index(name))
    return col.to_numpy(zero_copy_only=False)


def _col_ints(batch: pa.RecordBatch, name: str) -> np.ndarray:
    """Non-null values of an integer column, exact int64.  Nulls are
    dropped at the ARROW level: converting first would float the whole
    batch (NaN for nulls, silent precision loss above 2^53) — the
    int-hash guard in hashing.py would then reject it loudly, but the
    insert semantics should simply ignore nulls like add_strings does."""
    col = batch.column(batch.schema.get_field_index(name))
    if col.null_count:
        col = col.drop_null()
    return col.to_numpy(zero_copy_only=False)


def _col_matrix(batch: pa.RecordBatch, name: str, d: int) -> "np.ndarray":
    """array<float> column → (m, d) float64 matrix, zero-copy flatten +
    reshape (the vectorized row-batch form FD/Gram accumulators eat)."""
    col = batch.column(batch.schema.get_field_index(name))
    flat = col.flatten().to_numpy(zero_copy_only=False).astype(np.float64)
    if flat.size != len(col) * d:
        raise ValueError(
            f"ragged or null vectors in '{name}': {flat.size} values for "
            f"{len(col)} rows at declared dim {d}")
    return flat.reshape(-1, d)


# ---- sketch specs ------------------------------------------------------------

# input -> (Arrow extractor, the sketch method it feeds)
_INPUTS = {
    "strings": (_col_strings, "add_strings"),
    "ints": (_col_ints, "add_ints"),
    "tokens": (_col_flat_tokens, "add_ints"),
    "floats": (_col_floats, "add"),
    "vectors": (_col_matrix, "add"),
}

# Per kind: the inputs it builds from, and how TokenDedupAccumulator may
# collapse repeated token ids before insert.  "idempotent" kinds take each
# unique id once (re-inserting changes nothing); "counts" kinds take each
# unique id with its count; None inserts every token occurrence directly
# (Misra-Gries counts each insert and takes no ``counts`` argument).
_KINDS: dict[type, tuple[tuple[str, ...], str | None]] = {
    BloomFilter: (("strings", "ints", "tokens"), "idempotent"),
    SplitBlockBloomFilter: (("strings", "ints", "tokens"), "idempotent"),
    HyperLogLog: (("strings", "tokens"), "idempotent"),
    ThetaSketch: (("strings", "tokens"), "idempotent"),
    CountMinSketch: (("strings", "ints", "tokens"), "counts"),
    MultiSketch: (("tokens",), "counts"),
    CountingBloomFilter: (("strings", "ints"), None),
    CountSketch: (("strings", "ints"), None),
    MisraGries: (("strings", "tokens"), None),
    KLLSketch: (("floats",), None),
    TDigest: (("floats",), None),
    MomentsSketch: (("floats",), None),
    DDSketch: (("floats",), None),
    FrequentDirections: (("vectors",), None),
    ExactGram: (("vectors",), None),
}


def sketch_spec(kind: type, col: str, input: str, *args, **kwargs) -> SketchSpec:
    """Spec that builds one ``kind`` sketch from column ``col``.

    ``input`` says how the column is read: ``strings`` (a string
    column), ``ints`` (an integer column, NULLs dropped), ``tokens``
    (every element of an array<int> column), ``floats`` (a numeric
    column) or ``vectors`` (array<float> rows of the sketch's dimension
    ``d``).  ``args``/``kwargs`` go to ``kind``'s constructor, so the
    defaults are the class's own: ``sketch_spec(BloomFilter, "k",
    "strings", n, p)`` is the reference's bloom_filter(varchar[, n[, p]])
    aggregation (BloomFilterAggregation.java:31-62).  Raises ValueError
    when ``kind`` cannot be built from ``input``.
    """
    inputs, dedup = _KINDS.get(kind, ((), None))
    if input not in inputs:
        raise ValueError(
            f"cannot build {getattr(kind, '__name__', kind)} from {input!r} input"
            f" (accepts: {', '.join(inputs) or 'nothing'})")
    extract, insert = _INPUTS[input]

    def factory():
        # constructor args may be sketches (MultiSketch parts): copy them
        # so every partial starts from its own empty state
        return kind(*copy.deepcopy(args), **kwargs)

    if input == "tokens" and dedup:
        weighted = dedup == "counts"
        return SketchSpec((col,), lambda: TokenDedupAccumulator(factory(), weighted),
                          lambda sk, b: sk.add_flat(extract(b, col)))
    if input == "vectors":
        return SketchSpec((col,), factory, lambda sk, b: sk.add(extract(b, col, sk.d)))
    return SketchSpec((col,), factory, lambda sk, b: getattr(sk, insert)(extract(b, col)))


def token_family_over_tokens(
    col: str = "tokens",
    bloom_n: int = 1_000_000,
    bloom_p: float = BloomFilter.DEFAULT_FPP,
    cms_eps: float = CountMinSketch.DEFAULT_EPS,
    cms_delta: float = CountMinSketch.DEFAULT_DELTA,
    hll_precision: int = HyperLogLog.DEFAULT_PRECISION,
) -> SketchSpec:
    """Bloom + CMS + HLL over one tokens scan — the fused sketch family.

    The scan (parquet decode + transport) dominates a sketch build, so
    building membership, frequency, and cardinality sketches in a single
    pass costs ~⅓ of three separate jobs; all three flush from the same
    dedup counts (TokenDedupAccumulator), so the kernels run once per
    unique id per partition, not once per token.  Kept as a name only
    because the benchmark (sketchbench/workloads.py) imports it.
    """
    return sketch_spec(MultiSketch, col, "tokens", [
        BloomFilter(bloom_n, bloom_p), CountMinSketch(cms_eps, cms_delta), HyperLogLog(hll_precision)])


def kll_over_column(col: str, *args, **kwargs) -> SketchSpec:
    """``sketch_spec(KLLSketch, col, "floats", ...)``, kept as a name only
    because the benchmark (sketchbench/workloads.py) imports it."""
    return sketch_spec(KLLSketch, col, "floats", *args, **kwargs)


def hll_over_strings(col: str, *args, **kwargs) -> SketchSpec:
    """``sketch_spec(HyperLogLog, col, "strings", ...)``, kept as a name
    only because the benchmark (sketchbench/workloads.py) imports it."""
    return sketch_spec(HyperLogLog, col, "strings", *args, **kwargs)


# ---- ungrouped aggregation (two-level tree merge) ----------------------------


class BuildMetrics:
    """Sketch-build/merge counters over Spark accumulators (north_rule:
    'sketch-merge metrics').  Executor-side updates flow back through the
    task-completion protocol; read the properties after the job."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._rows = sc.accumulator(0)
        self._batches = sc.accumulator(0)
        self._partials = sc.accumulator(0)
        self._merges = sc.accumulator(0)

    def as_dict(self) -> dict:
        return {
            "rows": self._rows.value,
            "batches": self._batches.value,
            "partial_sketches": self._partials.value,
            "merges": self._merges.value,
        }


def _partial_build(spec: SketchSpec, metrics: BuildMetrics | None = None):
    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        sk = spec.factory()
        for b in batches:
            if b.num_rows:
                spec.update(sk, b)
                if metrics is not None:
                    metrics._rows.add(b.num_rows)
                    metrics._batches.add(1)
        if metrics is not None:
            metrics._partials.add(1)
        yield pa.RecordBatch.from_arrays([pa.array([sk.to_bytes()], pa.binary())], ["sketch"])

    return fn


def _fold(sketches, metrics: BuildMetrics | None = None):
    """Merge sketches left to right; None when there are none."""
    out = None
    for sk in sketches:
        if out is None:
            out = sk
            continue
        out = out.merge(sk)
        if metrics is not None:
            metrics._merges.add(1)
    return out


def _merge_blobs(metrics: BuildMetrics | None = None):
    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        sk = _fold((sketch_from_bytes(buf.as_py()) for b in batches for buf in b.column(0)),
                   metrics)
        if sk is not None:
            yield pa.RecordBatch.from_arrays([pa.array([sk.to_bytes()], pa.binary())], ["sketch"])

    return fn


def aggregate_sketch(
    df: DataFrame,
    spec: SketchSpec,
    fan_in: int = DEFAULT_FAN_IN,
    target_partials: int | None = None,
    metrics: BuildMetrics | None = None,
):
    """Build one sketch over the whole DataFrame; returns the sketch object.

    Column pruning: only spec.columns are read, so the parquet scan
    prunes everything else.  ``target_partials`` coalesces (no shuffle)
    the scan to that many tasks first — it defaults to the session's
    defaultParallelism (the cluster's core count) so each worker builds
    exactly one partial: partial count (and so merge fan-in and blob
    shuffle volume) tracks cluster size, not input split count, and the
    driver never touches ``rdd.getNumPartitions()`` (which builds the
    DAG driver-side, ~100s of ms per call).  Pass ``target_partials=0``
    to keep the input partitioning as-is.
    """
    with _tuned_arrow_batches(df):
        return _coalesced_tree_merge(df.select(*spec.columns), _partial_build(spec, metrics),
                                     target_partials, fan_in, spec, metrics)


def _coalesced_tree_merge(pruned: DataFrame, body, target_partials: int | None, fan_in: int,
                          spec: SketchSpec | None = None, metrics: BuildMetrics | None = None):
    """Coalesce ``pruned`` to ``target_partials`` tasks (default: the
    session's defaultParallelism), run the mapInArrow ``body`` that
    emits one blob per task, and tree-merge the blobs to one sketch."""
    if target_partials is None:
        target_partials = pruned.sparkSession.sparkContext.defaultParallelism
    if target_partials:
        pruned = pruned.coalesce(target_partials)
    partials = pruned.mapInArrow(body, "sketch binary")
    # coalesce never INCREASES partition count, so n_parts may
    # overstate the real partial count for narrow inputs; the cost
    # is at most log_fan_in(target) extra repartition rounds over a
    # handful of sketch blobs (milliseconds) — cheaper than the
    # driver-side DAG build getNumPartitions() would need to know
    # the true count
    n_parts = target_partials or pruned.rdd.getNumPartitions()
    return _tree_merge_collect(partials, n_parts, fan_in, spec, metrics)


def _tree_merge_collect(
    partials: DataFrame,
    n_parts: int,
    fan_in: int,
    spec: SketchSpec | None = None,
    metrics: BuildMetrics | None = None,
):
    """Tree merge of a blob DataFrame down to one sketch.

    Each level's tasks merge ~fan_in blobs, so no task (and finally no
    driver) ever holds more than fan_in sketches — at 8000 partials and
    fan_in=16 that is 500 → 32 → 2 tasks, then the driver merges ≤
    fan_in blobs (north_rule: treeAggregate-style merges, no driver
    hotspot).
    """
    merge_fn = _merge_blobs(metrics)
    while n_parts > fan_in:
        n_parts = -(-n_parts // fan_in)
        partials = partials.repartition(n_parts).mapInArrow(merge_fn, "sketch binary")
    blobs = [r.sketch for r in partials.collect()]
    if not blobs:
        if spec is None:
            raise ValueError("no sketches to merge")
        return _unwrap(spec.factory())
    # deserialize in a thread pool: zlib.decompress and the numpy buffer
    # copies release the GIL, and per-blob decode (~13 ms for a
    # compressed multi-sketch) dominates the driver tail — the merges
    # themselves are sub-ms vector ops (SCALING_PROFILE.md)
    if len(blobs) > 1:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(min(8, len(blobs))) as ex:
            sketches = list(ex.map(sketch_from_bytes, blobs))
    else:
        sketches = [sketch_from_bytes(blobs[0])]
    return _fold(sketches, metrics)


def aggregate_sketch_from_parquet(
    spark,
    path: str,
    spec: SketchSpec,
    n_tasks: int | None = None,
    fan_in: int = DEFAULT_FAN_IN,
    metrics: BuildMetrics | None = None,
):
    """Fused columnar scan + partial sketch build over a parquet file.

    The DataFrame path (``aggregate_sketch``) routes every token through
    the JVM: parquet scan → InternalRow → Arrow serialization → socket →
    Python.  For a sketch build that data movement *is* the job cost —
    the sketch kernels are ~10x cheaper than the transport.  This
    operator keeps Spark as the scheduler/merger but moves the scan into
    the Python worker: the driver lists row groups, Spark schedules one
    task per shard (``spark.range(0, n, 1, n)`` → one shard id per
    partition), and each task reads its row groups directly with
    pyarrow, updates its partial sketch, and emits one blob.  Raw tokens
    never cross a process boundary.

    On a real cluster the same pattern holds with object-store paths
    (pyarrow reads s3://… natively); shards are strided over row groups
    so file-position skew balances out.  This mirrors how Spark itself
    splits parquet scans — we only relocate the decode to the process
    that consumes the bytes.
    """
    partials, n_tasks = _parquet_shards(
        spark, path, list(spec.columns), n_tasks, _partial_build(spec, metrics), "sketch binary")
    return _tree_merge_collect(partials, n_tasks, fan_in, spec, metrics)


def _parquet_shards(spark, path: str, cols: list[str], n_tasks: int | None,
                    body, schema: str) -> tuple[DataFrame, int]:
    """One Spark task per shard of row groups (strided, so file-position
    skew balances out); each task reads its own row groups with pyarrow
    and feeds them to the mapInArrow ``body``.  Returns the output
    DataFrame and the shard count."""
    import pyarrow.parquet as pq

    n_rg = pq.ParquetFile(path).metadata.num_row_groups
    if n_tasks is None:
        n_tasks = spark.sparkContext.defaultParallelism
    n_tasks = max(1, min(n_tasks, n_rg))

    def build_shard(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        def shard_batches() -> Iterator[pa.RecordBatch]:
            pf = pq.ParquetFile(path)
            for b in batches:
                for sid in b.column(0).to_pylist():
                    for rg in range(sid, n_rg, n_tasks):
                        yield from pf.read_row_group(rg, columns=cols).to_batches()

        yield from body(shard_batches())

    return spark.range(0, n_tasks, 1, n_tasks).mapInArrow(build_shard, schema), n_tasks


def grouped_sketch_from_parquet(
    spark,
    path: str,
    key: str,
    spec: SketchSpec,
    n_tasks: int | None = None,
) -> DataFrame:
    """Grouped fused build: per-(shard, key) partials from a direct
    pyarrow row-group scan, then a blob-only grouped merge.

    The grouped analogue of ``aggregate_sketch_from_parquet``: raw rows
    never cross a process boundary and never shuffle — only
    ``shards x keys`` sketch blobs do.  Skew-proof for the same reason
    as the map_side strategy: a task only sees its own shard's share of
    a hot key.  Returns DataFrame[key string, sketch binary].
    """
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(path)
    # key labels come from Python str() in the fused kernel; str() and
    # Spark's cast-to-string agree for string/int keys but NOT for
    # double ('1e-07' vs '1.0E-7') or boolean ('True' vs 'true') — so
    # restrict this dataflow to the types whose labels are identical to
    # grouped_sketch's, instead of silently diverging
    ktype = pf.schema_arrow.field(key).type
    if not (pa.types.is_string(ktype) or pa.types.is_large_string(ktype)
            or pa.types.is_integer(ktype)):
        raise ValueError(
            f"grouped_sketch_from_parquet: key {key!r} has type {ktype} — "
            f"str() labels would diverge from grouped_sketch's JVM "
            f"cast-to-string; pre-cast the key to string (or use "
            f"grouped_sketch)")
    partials, _ = _parquet_shards(
        spark, path, list(dict.fromkeys([key, *spec.columns])), n_tasks,
        _grouped_partial_build(spec, key), f"{key} string, sketch binary")
    return grouped_merge_sketch_column(partials, key)


def merge_sketch_column(df: DataFrame, col: str = "sketch", fan_in: int = DEFAULT_FAN_IN,
                        target_partials: int | None = None):
    """Aggregate *pre-built* sketches stored in a binary column — parity
    with the reference's bloom_filter_from_string / bloom_filter(bf)
    merge aggregation (BloomFilterFromString.java:23-38).

    Same tree-merge dataflow as aggregate_sketch: partial count pinned
    to defaultParallelism by default (coalesce, no shuffle, no
    driver-side getNumPartitions), bounded fan-in above it.  Raises
    ValueError on empty input.
    """
    return _coalesced_tree_merge(df.select(F.col(col).alias("sketch")), _merge_blobs(),
                                 target_partials, fan_in)


# ---- heavy hitters (two-phase top-k) ------------------------------------------


class TopKNotCertified(RuntimeError):
    """top_k_tokens(certify=True): the coverage bound cannot prove the
    returned rows are the exact top-k (a non-candidate item could be
    heavier than the k-th candidate)."""


def top_k_tokens(
    df: DataFrame,
    col: str = "tokens",
    k: int = 20,
    m_per_partition: int | None = None,
    certify: bool = False,
) -> DataFrame:
    """Top-k most frequent token ids WITHOUT a full explode+groupBy
    shuffle: the two-phase heavy-hitters plan.

    Phase 1 (map-only): each partition counts its own tokens exactly
    (the same cache-resident bincount the sketch builds use) and emits
    only its local top-M (id, count) rows — O(partitions * M) rows
    total instead of one shuffled row per token occurrence — plus ONE
    threshold row per partition: the smallest emitted local count
    (0 when the partition had ≤ M distinct ids, i.e. everything was
    emitted).  Any id NOT in partition i's local top has local count
    ≤ threshold_i, so sum_i(threshold_i) is a hard upper bound on the
    global count of ANY non-candidate.
    Phase 2: the candidate union is counted exactly with a hash
    aggregate restricted to candidate ids (Catalyst's map-side partial
    aggregation makes the shuffle O(partitions * candidates)), then
    ranked.

    Coverage: WITHOUT ``certify`` this is heuristic (a true top-k item
    locally out-ranked by M heavier ids in every partition would be
    missed) — treat the default as approximate-with-high-probability;
    the gate query additionally verifies against the exact answer.
    WITH ``certify=True`` the standard bound is checked in-band: the
    result is certified exact iff the k-th candidate's exact count
    strictly exceeds sum_i(threshold_i); otherwise
    :class:`TopKNotCertified` is raised with both numbers so the
    caller can retry with a larger ``m_per_partition`` (the eager
    check costs the two phase actions the caller was about to run
    anyway plus one tiny threshold sum).
    Output: (token int, cnt long) for the deterministic top-k
    (count desc, token asc).
    """
    m = m_per_partition or 8 * k

    def local_top(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        acc = TokenDedupAccumulator(_CandidateSink(), weighted=True)
        for b in batches:
            if b.num_rows:
                acc.add_flat(_col_flat_tokens(b, col))
        sink = acc.finish()
        ids, counts = sink.top(m)
        thr = int(min(counts)) if len(sink._ids) > m else 0
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(ids + [-1], pa.int64()),
                pa.array(counts + [thr], pa.int64()),
                pa.array([False] * len(ids) + [True], pa.bool_()),
            ],
            ["token", "cnt", "is_thr"],
        )

    phase1 = df.select(col).mapInArrow(local_top, "token long, cnt long, is_thr boolean")
    if certify:
        # persist the (partitions x M)-row phase-1 output: the
        # certificate's threshold bound must come from the SAME
        # evaluation that produced the candidate set (a recompute over
        # non-deterministic partitioning could certify against
        # thresholds that never bounded the actual run), and without
        # the cache the bound query re-runs the whole corpus scan
        phase1 = phase1.persist()
    candidates = (
        phase1.filter(~F.col("is_thr"))
        .groupBy("token")
        .agg(F.sum("cnt").alias("cnt_lb"))  # lower bound: only local-top rows
    )
    # phase 2: exact counts restricted to the candidate set — the
    # explode stays map-side (filter before shuffle), the hash agg
    # shuffles only (partitions x candidates) partial rows
    cand_ids = candidates.select("token")
    exploded = df.select(F.explode(col).alias("token")).join(
        F.broadcast(cand_ids), "token"
    )
    exact = exploded.groupBy("token").agg(F.count("*").alias("cnt"))
    result = _top_k_rows(exact, "token", k).select(F.col("token").cast("int").alias("token"), "cnt")
    if not certify:
        return result
    try:
        rows = result.collect()  # materializes phase1 into the cache
        kth = min((r.cnt for r in rows), default=0)
        # reads the CACHED phase-1 rows: one tiny threshold sum, no
        # second corpus scan, same evaluation as the candidates
        bound = phase1.filter(F.col("is_thr")).agg(F.sum("cnt")).collect()[0][0] or 0
    finally:
        phase1.unpersist()
    # bound == 0 means NO partition truncated its local map (every
    # M-th local count was 0): the candidate set provably covers every
    # token in the corpus, so the ranking is exact even when fewer
    # than k distinct tokens exist — len(rows) < k is then just "the
    # corpus has < k tokens", not a coverage miss
    if (kth > bound) and (len(rows) == k or bound == 0):
        spark = df.sparkSession
        return spark.createDataFrame(rows, result.schema)
    if bound == 0 and not rows:
        # empty corpus: exact (and empty) by the same argument
        return result
    raise TopKNotCertified(
        f"cannot certify top-{k}: k-th candidate count {kth} does not "
        f"strictly exceed the non-candidate bound {bound} "
        f"(sum of per-partition M-th local counts, M={m}); retry with a "
        f"larger m_per_partition"
    )


def mg_top_k(
    df: DataFrame,
    col: str,
    k: int = 20,
    k_counters: int = 4096,
    certify: bool = True,
) -> DataFrame:
    """Exact top-k over a string column via a Misra-Gries candidate
    sketch + certified re-count — the SKETCH-state sibling of
    :func:`top_k_tokens` (which keeps exact per-partition count maps):

    Phase 1 (map-only): ONE tree-merged :class:`MisraGries` summary of
    at most ``k_counters`` (item, count) pairs over the whole column —
    per-partition state is O(k_counters) regardless of local distinct
    counts, which is the advantage over the local-top-M plan when
    partitions are distinct-heavy.  The PODS'12 merge bound guarantees
    any item NOT retained has true count <= summary.error_bound()
    <= n/(k_counters+1).
    Phase 2: exact hash-agg restricted to the <= k_counters candidates
    (broadcast semi-join BEFORE the shuffle, so the agg shuffles only
    partitions x candidates partial rows), ranked (count desc, item
    asc).

    ``certify=True`` (default): raise :class:`TopKNotCertified` unless
    the k-th candidate's exact count strictly exceeds error_bound() —
    when it does, no non-candidate can displace the returned rows, so
    the answer is provably exact.  error_bound()==0 means nothing was
    ever trimmed: the summary is a complete exact count table and the
    result is exact even when fewer than k items exist.

    Output: (item string, cnt long).
    """
    spark = df.sparkSession
    summary = aggregate_sketch(df.select(col), sketch_spec(MisraGries, col, "strings", k_counters))
    bound = summary.error_bound()
    cands = [item for item, _ in summary.topk(k_counters)]
    if not cands:
        return spark.createDataFrame([], "item string, cnt long")
    cand_df = spark.createDataFrame([(c,) for c in cands], "item string")
    exact = (
        df.select(F.col(col).alias("item"))
        .join(F.broadcast(cand_df), "item")
        .groupBy("item")
        .agg(F.count("*").alias("cnt"))
    )
    result = _top_k_rows(exact, "item", k)
    if not certify:
        return result
    rows = result.collect()
    kth = min((r.cnt for r in rows), default=0)
    if (bound == 0) or (kth > bound and len(rows) == k):
        return spark.createDataFrame(rows, result.schema)
    raise TopKNotCertified(
        f"cannot certify top-{k}: k-th candidate count {kth} does not "
        f"strictly exceed the Misra-Gries undercount bound {bound} "
        f"(n={summary.n}, k_counters={k_counters}); retry with a larger "
        f"k_counters"
    )


def _top_k_rows(exact: DataFrame, item: str, k: int) -> DataFrame:
    """The k rows of (item, cnt) with the highest count, ties by item asc."""
    w = Window.orderBy(F.desc("cnt"), F.asc(item))
    return exact.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") <= k).select(item, "cnt")


class _CandidateSink:
    """Accumulator target for top_k_tokens phase 1: keeps exact
    (id, count) pairs fed by TokenDedupAccumulator's weighted flush."""

    def __init__(self):
        self._ids = np.empty(0, dtype=np.int64)
        self._counts = np.empty(0, dtype=np.int64)

    def add_ints(self, values, counts=None):
        v = np.asarray(values, dtype=np.int64)
        c = np.ones(len(v), np.int64) if counts is None else np.asarray(counts, dtype=np.int64)
        # fold into the running exact map: sorted unique ids, summed counts
        cnt = np.concatenate([self._counts, c])
        self._ids, inv = np.unique(np.concatenate([self._ids, v]), return_inverse=True)
        self._counts = np.zeros(len(self._ids), dtype=np.int64)
        np.add.at(self._counts, inv, cnt)
        return self

    def top(self, m: int):
        if len(self._ids) <= m:
            return self._ids.tolist(), self._counts.tolist()
        sel = np.argpartition(-self._counts, m - 1)[:m]
        return self._ids[sel].tolist(), self._counts[sel].tolist()


# ---- grouped aggregation (salted two-level) ----------------------------------


def _grouped_partial_build(spec: SketchSpec, key: str):
    """mapInArrow body: one partial sketch per (input partition, key).

    Arrow-level group split (np.unique on the key column + RecordBatch
    .filter) — raw rows never shuffle, and token list columns never pass
    through pandas object arrays.
    """

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import pyarrow.compute as pc

        _NULL_GROUP = object()  # dict key for the NULL group
        sketches: dict = {}

        def update(kv, rows: pa.RecordBatch) -> None:
            sk = sketches.get(kv)
            if sk is None:
                sk = sketches[kv] = spec.factory()
            spec.update(sk, rows)

        for b in batches:
            if not b.num_rows:
                continue
            kcol = b.column(b.schema.get_field_index(key))
            if kcol.null_count:
                # split the NULL-group rows off at the Arrow level:
                # np.unique cannot sort None against str (TypeError),
                # and a numeric key column with nulls would float to
                # NaN — dropping nulls BEFORE to_numpy also keeps int
                # keys exactly int64
                null_mask = pc.is_null(kcol)
                update(_NULL_GROUP, b.filter(null_mask))
                b = b.filter(pc.invert(null_mask))
                if not b.num_rows:
                    continue
                kcol = b.column(b.schema.get_field_index(key))
            keys = kcol.to_numpy(zero_copy_only=False)
            uniq, inv = np.unique(keys, return_inverse=True)
            if len(uniq) == 1:
                update(uniq[0], b)
                continue
            for i, kv in enumerate(uniq):
                update(kv, b.filter(pa.array(inv == i)))
        if sketches:
            ks = list(sketches)
            yield pa.RecordBatch.from_arrays(
                [pa.array([None if k is _NULL_GROUP else str(k) for k in ks],
                          pa.string()),
                 pa.array([sketches[k].to_bytes() for k in ks], pa.binary())],
                [key, "sketch"],
            )

    return fn


def grouped_sketch(
    df: DataFrame,
    key: str,
    spec: SketchSpec,
    salt: int | None = None,
    salt_col: str | None = None,
    strategy: str = "map_side",
) -> DataFrame:
    """Per-key sketches: returns DataFrame[key string, sketch binary].

    ``map_side`` (default): partial sketch per (partition, key) inside
    mapInArrow, then a tiny grouped blob merge — the partial/combine
    protocol of the reference's grouped accumulator (reference
    BloomFilterStateFactory.java:48-91) in Spark dataflow.  Only sketch
    blobs shuffle (partitions x keys x sketch_size bytes, independent of
    row count), and skewed keys cost nothing extra: a task only ever
    sees its own partition's share of a hot key.  Right choice for
    low-cardinality keys like ``source``.

    ``salted``: groups raw rows by (key, salt) with applyInPandas, then
    merges the S partials per key — the explicit repartition/salting
    dataflow (north_rule).  Use for high-cardinality keys where
    per-partition x per-key partials would blow up the map side.
    """
    tune_arrow_batches(df)
    cols = [key, *spec.columns]
    pruned = df.select(*dict.fromkeys(cols))
    out_schema = f"{key} string, sketch binary"

    # the output schema is '{key} string': normalize non-string group
    # keys through ONE stringification — Spark's cast-to-string — for
    # BOTH strategies, so a double/boolean key yields the same label
    # ('1.0E-7', 'true') whichever dataflow built it; NULL keys flow
    # through as NULL either way
    pruned = pruned.withColumn(key, F.col(key).cast("string"))

    if strategy == "map_side":
        partials = pruned.mapInArrow(_grouped_partial_build(spec, key), out_schema)
        return grouped_merge_sketch_column(partials, key)

    if strategy != "salted":
        raise ValueError(f"unknown strategy {strategy!r}")

    def build(pdf: pd.DataFrame) -> pd.DataFrame:  # applyInPandas groups are never empty
        sk = spec.factory()
        spec.update(sk, pa.RecordBatch.from_pandas(pdf[list(spec.columns)], preserve_index=False))
        return pd.DataFrame({key: [pdf[key].iloc[0]], "sketch": [sk.to_bytes()]})

    if not salt:
        return pruned.groupBy(key).applyInPandas(build, out_schema)

    sc = salt_col or key
    salted = pruned.withColumn("__salt", F.pmod(F.xxhash64(F.col(sc), F.monotonically_increasing_id()), F.lit(salt)))
    partials = salted.groupBy(key, "__salt").applyInPandas(build, out_schema)
    return grouped_merge_sketch_column(partials, key)


def sketch_estimates(df: DataFrame, col: str = "sketch",
                     out_col: str = "estimate") -> DataFrame:
    """Decode a sketch column to its scalar ``estimate()`` executor-side
    — DataFrame in, DataFrame out, blobs never visit the driver (the
    missing last step that otherwise tempts a collect+deserialize loop
    over a sketch table).  All other columns pass through unchanged;
    every sketch family defines estimate() (HLL/theta distinct count,
    bloom fill-derived insertions, CMS total weight, KLL/t-digest n)."""
    fields = [f"{f.name} {f.dataType.simpleString()}"
              for f in df.schema.fields if f.name != col]
    if len(fields) == len(df.schema.fields):
        raise ValueError(f"no column {col!r} in {df.columns}")
    if out_col in df.columns and out_col != col:
        raise ValueError(
            f"output column {out_col!r} already exists in {df.columns}; "
            "pass a different out_col")
    out_schema = ", ".join([*fields, f"{out_col} double"])

    def decode(it):
        for pdf in it:
            pdf = pdf.copy()
            pdf[out_col] = [float(sketch_from_bytes(b).estimate()) for b in pdf[col]]
            yield pdf.drop(columns=[col])

    return df.mapInPandas(decode, out_schema)


def grouped_merge_sketch_column(df: DataFrame, key: str, col: str = "sketch") -> DataFrame:
    """Grouped merge of pre-built sketches → DataFrame[key, sketch].
    The key keeps its input type (an int key stays int)."""

    def merge_group(pdf: pd.DataFrame) -> pd.DataFrame:
        sk = _fold(sketch_from_bytes(x) for x in pdf[col])
        return pd.DataFrame({key: [pdf[key].iloc[0]], "sketch": [sk.to_bytes()]})

    key_type = df.schema[key].dataType.simpleString()
    return df.select(key, col).groupBy(key).applyInPandas(
        merge_group, f"{key} {key_type}, sketch binary")
