"""Multi-dimensional data-layout clustering (z-order / Morton keys).

The lakehouse scan-pruning primitive (Delta ``OPTIMIZE ZORDER BY``,
Iceberg sort orders): map each clustering column to a rank-normalized
integer in ``[0, 2^bits)``, interleave the dimensions' bits into one
Morton key, and lay the table out in key order — after which a
min/max-pruned scan (parquet row-group stats, partition bounds) skips
most of the table for a range predicate on ANY clustered dimension,
not just the leading sort column.

Two rank modes:

- ``exact`` (the oracle-able contract): each dimension's level is the
  dense rank of its value over the column's DISTINCT values, scaled by
  integer division — ``level = (rank_idx * 2^bits) div n_distinct``.
  Deterministic, engine-portable (pure integer math, no float
  boundaries), and replayable in ANSI SQL.  The distinct-value table
  is sorted in ONE window partition, so this mode is bounded by value
  cardinality — right for categorical / quantized / date-grain
  dimensions (the common ZORDER inputs); the sort is over distinct
  values, not rows.
- ``approx`` (the 100 TB continuous-value path): levels come from a
  mergeable KLL quantile sketch (one distributed aggregate, error
  ~1/k), so no distinct materialization and no single-partition window
  — the same approximate-rank strategy Delta's range_partition_id
  sampling uses.  Not byte-deterministic across input partitionings
  (sketch compaction order), hence pytest-verified, not oracle-gated.

Scale shape: per dimension one vocab-bounded distinct aggregate (or
one sketch aggregate), one value→level join (AQE broadcasts the level
table when it fits), then a purely map-only bit-interleave projection
— whole-stage codegen, no Python, no global row window.  Bucket ids
are HIGH BITS of the key (``zkey >> shift``), not a row-number ntile,
so bucketing is map-only too.  The actual write is
``repartitionByRange(zkey).sortWithinPartitions(zkey)`` + parquet,
which turns row-group min/max stats into the pruning index.

Reference parity: the reference engine has no layout optimizer (it is
a filter-pushdown UDF suite); this operator is the Spark-first
pruning counterpart for the same "skip data you cannot match" goal as
its bloom semi-joins (README.md:21-29).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window, functions as F


def _level_map(df: DataFrame, col: str, bits: int) -> DataFrame:
    """DataFrame[(col) v, __lvl] mapping each distinct value to its
    rank-scaled level in [0, 2^bits) — pure integer math."""
    distinct = df.select(F.col(col).alias("v")).where(
        F.col(col).isNotNull()).distinct()
    n = distinct.count()
    if not n:
        raise ValueError(f"column {col!r} has no non-null values")
    w = Window.orderBy("v")
    return (distinct
            .withColumn("__idx", F.row_number().over(w).cast("long") - 1)
            .select("v",
                    F.expr(f"(__idx * {1 << bits}) div {n}").alias("__lvl")))


def _interleave(level_cols: Sequence, bits: int) -> F.Column:
    """Morton-interleave D level columns of ``bits`` bits each into one
    long: dimension d contributes its bit j at position j*D + d."""
    d_count = len(level_cols)
    key = F.lit(0).cast("long")
    for j in range(bits):
        for d, lvl in enumerate(level_cols):
            bit = F.shiftright(lvl.cast("long"), j).bitwiseAND(1)
            key = key + bit * F.lit(1 << (j * d_count + d))
    return key


def zorder_keys(df: DataFrame, cols: Sequence[str], bits: int = 16,
                mode: str = "exact", kll_k: int = 2048) -> DataFrame:
    """Append a ``zkey`` long column: the Morton interleave of the
    rank-normalized clustering columns.  NULL values rank below
    everything (level 0).  ``bits`` per dimension; ``len(cols) * bits``
    must fit a signed long (≤ 62)."""
    cols = list(cols)
    if len(cols) < 2:
        raise ValueError("z-order needs at least 2 clustering columns")
    if len(cols) * bits > 62:
        raise ValueError(f"{len(cols)} dims x {bits} bits overflows a long")
    if mode not in ("exact", "approx"):
        raise ValueError(f"unknown mode {mode!r}")

    out = df
    lvl_cols = []
    for i, c in enumerate(cols):
        lname = f"__lvl{i}"
        if mode == "exact":
            levels = _level_map(df, c, bits)
            out = (out.join(levels, out[c] == levels["v"], "left")
                   .drop("v")
                   .withColumnRenamed("__lvl", lname))
        else:
            levels = _kll_levels(df, c, bits, kll_k)
            out = _apply_splits(out, c, levels, lname)
        lvl_cols.append(F.coalesce(F.col(lname), F.lit(0)))
    return (out.withColumn("zkey", _interleave(lvl_cols, bits))
            .drop(*[f"__lvl{i}" for i in range(len(cols))]))


def _kll_levels(df: DataFrame, col: str, bits: int, kll_k: int) -> list:
    """Approx mode: 2^bits - 1 split points from a distributed KLL
    sketch over the column (one aggregate, mergeable partials)."""
    from presto_bloomfilter_spark.functions.kll import KLLSketch
    from presto_bloomfilter_spark.operators import aggregate as agg

    sk = agg.aggregate_sketch(
        df.select(F.col(col).cast("double").alias("v"))
          .where(F.col("v").isNotNull()),
        agg.sketch_spec(KLLSketch, "v", "floats", k=kll_k))
    n_levels = 1 << bits
    splits = sorted({float(sk.quantile(q / n_levels))
                     for q in range(1, n_levels)})
    return splits


def _apply_splits(df: DataFrame, col: str, splits: list, lname: str) -> DataFrame:
    """Map-only level assignment from broadcast split points: level =
    number of splits <= value (binary search via JVM array expr)."""
    arr = F.array(*[F.lit(s) for s in splits])
    v = F.col(col).cast("double")
    lvl = F.size(F.filter(arr, lambda s: s <= v))
    return df.withColumn(lname, F.when(v.isNotNull(), lvl).otherwise(0))


def zorder_layout(df: DataFrame, cols: Sequence[str], n_buckets: int = 64,
                  bits: int = 16, mode: str = "exact") -> DataFrame:
    """``zorder_keys`` plus a map-only ``zbucket`` id: the key's high
    ``log2(n_buckets)`` bits — the deterministic stand-in for the
    range-partition id a clustered write would assign.  ``n_buckets``
    must be a power of two dividing the key space."""
    if n_buckets < 1 or n_buckets & (n_buckets - 1):
        raise ValueError(f"n_buckets must be a power of two, got {n_buckets}")
    keyed = zorder_keys(df, cols, bits=bits, mode=mode)
    shift = len(list(cols)) * bits - n_buckets.bit_length() + 1
    return keyed.withColumn(
        "zbucket", F.shiftright(F.col("zkey"), shift).cast("int"))


def cluster_for_write(df: DataFrame, cols: Sequence[str],
                      n_files: int = 64, bits: int = 16,
                      mode: str = "approx") -> DataFrame:
    """The write-path composition: z-key the table, range-partition on
    the key into ``n_files`` tasks and sort within each — the layout
    whose parquet row-group min/max stats prune range predicates on
    every clustered dimension.  Defaults to the sketch-based approx
    ranks (no distinct materialization) — the form that holds at
    100 TB."""
    keyed = zorder_keys(df, cols, bits=bits, mode=mode)
    return (keyed.repartitionByRange(n_files, "zkey")
            .sortWithinPartitions("zkey"))
