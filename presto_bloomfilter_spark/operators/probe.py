"""Broadcast sketch probes — the scalar-function side of the reference.

The reference evaluates ``bloom_filter_contains(bf, el)`` per row with a
Guava LRU keyed by the blob's sha256 prefix
(BloomFilterScalarFunctions.java:25,46-61).  Spark-native translation
(SURVEY.md §3.2): the sketch bytes ride a torrent broadcast to every
executor; an *iterator* pandas UDF deserializes once per task (plus an
executor-local LRU keyed by the same sha256 header) and probes whole
Arrow batches vectorized.  No cross join against a 1-row aggregate —
a broadcast variable is the idiomatic Spark form of that pattern.

At 100 TB the probe is a map-only stage: no shuffle, filter evaluated
inside the scan pipeline, bloom FP rate bounds the extra rows that the
(optional) exact verification join must process.
"""

from __future__ import annotations

from collections import OrderedDict
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.functions import pandas_udf

from presto_bloomfilter_spark.functions import serialization as ser
from presto_bloomfilter_spark.functions.bloom import BloomFilter
from presto_bloomfilter_spark.functions.sbbf import SplitBlockBloomFilter
from presto_bloomfilter_spark.operators.aggregate import DEFAULT_FAN_IN, aggregate_sketch, sketch_spec

# membership-sketch class per `kind` arg of bloom_semi_join
_SEMI_JOIN_SPECS = {"bloom": BloomFilter, "sbbf": SplitBlockBloomFilter}

# '' is invisible to every membership filter (reference empty-element
# semantics, BloomFilter.java:161-167) but a legitimate JOIN KEY: a
# semi join that silently drops ''-keyed matches would return a strict
# subset of the exact join.  The semi joins therefore map '' to this
# sentinel on BOTH build and probe (same trick as contamination.py's
# empty-gram token); the exact-verify join still compares the ORIGINAL
# values, so the sentinel never leaks into results.
_EMPTY_KEY_TOKEN = "\x00<empty-key>"


def map_empty_to(col, token: str):
    """The shared ''→sentinel mapping every filter consumer uses
    (semi joins here, contamination grams in contamination.py) — one
    place for the scheme, parameterized by the sentinel."""
    return F.when(col == "", F.lit(token)).otherwise(col)


def _keyable(col):
    return map_empty_to(col, _EMPTY_KEY_TOKEN)

# executor-local deserialization cache, keyed by the 32-byte sha256
# header (reference cache: max 40 entries, BloomFilterScalarFunctions.java:25)
_CACHE_MAX = 40
_sketch_cache: "OrderedDict[bytes, object]" = OrderedDict()


def _cached_sketch(blob: bytes):
    # key = sha256 of the WHOLE blob, not the header's payload-only
    # digest: two sketches with byte-identical payloads but different
    # kind/params (two empty filters of equal word count and different
    # k; an empty HLL vs an equal-length zero bitset) must not collide
    # into one cached object
    import hashlib

    key = hashlib.sha256(blob).digest()
    sk = _sketch_cache.get(key)
    if sk is None:
        sk = ser.sketch_from_bytes(blob)
        _sketch_cache[key] = sk
        if len(_sketch_cache) > _CACHE_MAX:
            _sketch_cache.popitem(last=False)
    else:
        _sketch_cache.move_to_end(key)
    return sk


class ProbeMetrics:
    """Probe-side counters over Spark accumulators — parity with the
    reference's two-stage probe counters (``preMiss``/``mightContain``
    counts, reference BloomFilter.java:58,184-205,306-313; asserted in
    TestBloomFilterPerformanceContains.java:42).  The two-stage
    pre-filter itself is deliberately dropped (the vectorized probe is
    already cheap, functions/bloom.py module docs); this keeps its
    observability: probe_count, miss_count, and miss_rate per job.

    Semantics note (standard Spark accumulator caveat): updates happen
    inside the probe UDF, which is a TRANSFORMATION — counts reflect
    UDF executions, not logical rows.  Running multiple actions over
    the same un-cached result, stage retries, or speculative tasks
    re-execute the UDF and inflate the counters (the ratio miss_rate
    stays meaningful).  For exact per-job counts, read the metrics
    after exactly one action, or call reset() between actions — the
    bench and tests do the former.
    """

    def __init__(self, spark: SparkSession):
        # hold only the accumulators (picklable into UDF closures), not
        # the session — a SparkSession reference would break pickling
        self.reset(spark)

    def reset(self, spark: SparkSession) -> None:
        """Fresh counters; call between actions for exact per-job counts."""
        sc = spark.sparkContext
        self._probes = sc.accumulator(0)
        self._misses = sc.accumulator(0)

    @property
    def probe_count(self) -> int:
        return self._probes.value

    @property
    def miss_count(self) -> int:
        return self._misses.value

    @property
    def miss_rate(self) -> float:
        n = self.probe_count
        return self.miss_count / n if n else 0.0

    def as_dict(self) -> dict:
        return {
            "probe_count": self.probe_count,
            "miss_count": self.miss_count,
            "miss_rate": self.miss_rate,
        }


def contains_udf(spark: SparkSession, sketch, ints: bool = False,
                 metrics: ProbeMetrics | None = None):
    """Vectorized membership predicate over a broadcast sketch.

    Returns a column function usable in ``df.filter`` — the Spark form
    of ``WHERE bloom_filter_contains(bf, col)`` (reference README.md:28).
    Pass ``metrics`` to count probes/misses executor-side (the
    reference's preMiss-style counters).
    """
    blob = sketch.to_bytes() if hasattr(sketch, "to_bytes") else bytes(sketch)
    bv = spark.sparkContext.broadcast(blob)

    if ints:
        # Arrow→pandas turns a nullable int batch into float64: NaN for
        # NULLs and SILENT precision loss above 2^53 (a snowflake-style
        # id changes value → hash mismatch → bloom false negative).  So
        # the int path casts to STRING JVM-side (lossless for bigint)
        # and parses back to exact int64 here; NULLs probe False, same
        # as the string form / reference null semantics.

        @pandas_udf("boolean")
        def probe_str(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
            sk = _cached_sketch(bv.value)
            for s in it:
                out = np.zeros(len(s), dtype=bool)
                mask = s.notna().to_numpy()
                if mask.any():
                    vals = s[mask].to_numpy().astype(np.int64)
                    out[mask] = sk.might_contain_ints(vals)
                if metrics is not None:
                    metrics._probes.add(len(out))
                    metrics._misses.add(int(len(out) - out.sum()))
                yield pd.Series(out)

        def probe(col):
            from pyspark.sql import Column, functions as F

            c = col if isinstance(col, Column) else F.col(col)
            return probe_str(c.cast("string"))

    else:

        @pandas_udf("boolean")
        def probe(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
            sk = _cached_sketch(bv.value)
            for s in it:
                hits = sk.might_contain_strings(s)
                if metrics is not None:
                    metrics._probes.add(len(hits))
                    metrics._misses.add(int(len(hits) - hits.sum()))
                yield pd.Series(hits)

    return probe


def filter_by_sketch(spark: SparkSession, df: DataFrame, col: str, sketch, ints: bool = False) -> DataFrame:
    """df rows whose `col` is (probably) in the sketch; no false negatives."""
    return df.filter(contains_udf(spark, sketch, ints=ints)(F.col(col)))


def resolve_key_mode(probe_df: DataFrame, probe_col: str,
                     build_df: DataFrame, build_col: str,
                     caller: str = "bloom_semi_join") -> bool:
    """Decide whether a build/probe key pair hashes as integers (True)
    or through the lossless string cast (False), refusing pairs whose
    string forms would silently diverge.  Shared by every sketch-backed
    semi join (bloom/sbbf/xor)."""
    int_types = {"tinyint", "smallint", "int", "bigint"}
    pt, bt = dict(probe_df.dtypes)[probe_col], dict(build_df.dtypes)[build_col]
    ints = pt in int_types and bt in int_types
    numeric = int_types | {"float", "double", "decimal"}
    if not ints and (pt.split("(")[0] in numeric) != (bt.split("(")[0] in numeric):
        # a numeric key against a non-numeric one would fall through to
        # the string path, where '5.0' != '5' silently DROPS matching
        # rows that a plain semi join (numeric coercion) would keep —
        # refuse instead of returning a wrong subset
        raise ValueError(
            f"{caller} key types are incomparable as strings: "
            f"probe {probe_col}:{pt} vs build {build_col}:{bt}; cast "
            f"both keys to a common type first")
    if not ints and pt != bt and pt.split("(")[0] in numeric:
        # e.g. double vs bigint: '5.0' vs '5' string forms diverge
        raise ValueError(
            f"{caller} mixed numeric key types: probe "
            f"{probe_col}:{pt} vs build {build_col}:{bt} — their string "
            f"forms differ ('5.0' vs '5'), which would silently drop "
            f"matches; cast both keys to a common type first")
    return ints


def bloom_semi_join(
    spark: SparkSession,
    probe_df: DataFrame,
    probe_col: str,
    build_df: DataFrame,
    build_col: str,
    expected_insertions: int = 1_000_000,
    fpp: float = BloomFilter.DEFAULT_FPP,
    exact: bool = True,
    fan_in: int = DEFAULT_FAN_IN,
    kind: str = "bloom",
) -> DataFrame:
    """The reference's motivating pattern (README.md:8-38): replace an
    expensive join with build-side bloom + probe-side filter.

    With ``exact=True`` a broadcast semi join over the *pre-filtered*
    probe side removes bloom false positives, so the result equals the
    exact semi join while the heavy scan-side work is done by the bloom
    predicate (this mirrors what Catalyst's InjectRuntimeFilter does
    automatically, but user-controlled and persistable — SURVEY.md §4).

    ``kind`` picks the membership sketch: ``"bloom"`` (reference-parity
    classic filter) or ``"sbbf"`` (split-block/Parquet blocked variant
    — one-cache-line probes, same no-false-negative contract).
    """
    if kind not in _SEMI_JOIN_SPECS:
        raise ValueError(f"unknown sketch kind {kind!r}; "
                         f"one of {sorted(_SEMI_JOIN_SPECS)}")
    sketch_kind = _SEMI_JOIN_SPECS[kind]
    ints = resolve_key_mode(probe_df, probe_col, build_df, build_col)
    # the bloom build reads raw (non-distinct) keys: inserts are
    # idempotent, so skipping .distinct() skips a whole shuffle of the
    # build side; only the exact-verify broadcast below needs dedup
    if ints:
        # integer keys: no casts — int hashing stays pure numpy and the
        # verify join compares native longs
        raw_keys = build_df.select(build_col)
        spec = sketch_spec(sketch_kind, build_col, "ints", expected_insertions, fpp)
        pre = probe_df.filter(contains_udf(spark, aggregate_sketch(raw_keys, spec, fan_in),
                                           ints=True)(F.col(probe_col)))
        join_cond_col = F.col(probe_col)
    else:
        raw_keys = build_df.select(F.col(build_col).cast("string").alias(build_col))
        sent_keys = build_df.select(
            _keyable(F.col(build_col).cast("string")).alias(build_col))
        spec = sketch_spec(sketch_kind, build_col, "strings", expected_insertions, fpp)
        pre = probe_df.filter(contains_udf(spark, aggregate_sketch(sent_keys, spec, fan_in))(
            _keyable(F.col(probe_col).cast("string"))))
        join_cond_col = F.col(probe_col).cast("string")
    build_keys = raw_keys.distinct()
    if not exact:
        return pre
    return pre.join(
        F.broadcast(build_keys.withColumnRenamed(build_col, "__bk")),
        join_cond_col == F.col("__bk"),
        "left_semi",
    )
