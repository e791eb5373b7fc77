"""Deterministic corpus sampling: mixture rebalancing and bottom-k.

Both operators are pure functions of row keys (md5), never of ``rand()``
or physical layout, so a sample is reproducible across runs, engines,
partitionings, and task retries — the property a training pipeline
needs so a re-run of a 100 TB job selects byte-identical data.  Both
compile to JVM built-ins (whole-stage codegen) and push into the scan;
the same predicates run verbatim in ANSI SQL, which is how the DuckDB
oracles value-check them exactly.

- ``sample_mixture``: per-source keep-rates — the data-mixture
  rebalancer.  A raw crawl is dominated by one source (the synthetic
  corpus mirrors this: web ≈ 70%); training wants a target mixture, so
  each source gets its own deterministic hash keep-rate.  Map-only: a
  single scan-side predicate, no shuffle, no join.

- ``bottom_k_sample``: the k rows with the smallest md5(key) — a KMV /
  bottom-k sketch whose "estimate" is the sample itself.  Mergeable by
  construction: bottom-k of a union == bottom-k of the per-shard
  bottom-k's, which is exactly how Spark executes orderBy(pr).limit(k)
  (per-partition top-k, then a k-row driver merge — no global sort
  shuffle).  Use it for fixed-size eval panels / spot-check samples
  that must stay stable as the corpus grows: a new row only enters the
  sample by displacing the current max, so consecutive snapshots share
  all but the displaced rows.

Reference scope note: the reference ships hash-sketch membership
(BloomFilter.java); these are the sampling siblings a sketch-driven
data pipeline runs beside it, built on the same engine-portable-hash
discipline as operators/text.py:hash_sample.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F


def hex_prefix_bucket(hex_col: Column, buckets: int) -> Column:
    """Uniform bucket in [0, buckets) from a hex-digest COLUMN: first
    8 hex digits mod buckets.  The single definition of the
    hex→bucket step — md5_bucket and deterministic_shuffle both build
    on it (a drifted copy silently changes which rows a sample, split,
    or shuffle bucket selects)."""
    return F.conv(F.substring(hex_col, 1, 8), 16, 10).cast("long") % buckets


def md5_bucket(key_col: str, buckets: int = 100) -> Column:
    """Engine-portable uniform bucket in [0, buckets): first 8 md5 hex
    digits of the KEY mod buckets (identical in Spark and ANSI SQL).

    THE single definition of the key-hash-bucket expression —
    hash_sample, the train/test contamination splits, and their DuckDB
    oracles all depend on this exact formula, so every consumer must
    reference it here rather than re-inline it."""
    return hex_prefix_bucket(F.md5(F.col(key_col).cast("string")), buckets)


def sample_mixture(
    df: DataFrame,
    rates: dict[str, int],
    source_col: str = "source",
    key_col: str = "doc_id",
) -> DataFrame:
    """Keep ``rates[source]`` percent of each source's rows,
    deterministically by ``md5(key)``.  Sources absent from ``rates``
    are dropped (rate 0).

    Rates are integer percents so the predicate is exact in any engine.
    Because every source uses the same key hash, the kept set is
    NESTED across rate changes: raising web from 5 to 10 keeps the old
    5% and adds 5% more — reruns and incremental mixture tuning never
    churn previously selected data.
    """
    for src, pct in rates.items():
        if not 0 <= pct <= 100:
            raise ValueError(f"rate for {src!r} must be in [0, 100], got {pct}")
    if not rates:
        return df.filter(F.lit(False))
    bucket = md5_bucket(key_col)
    mapping = F.create_map(
        *[lit for src, pct in rates.items() for lit in (F.lit(src), F.lit(int(pct)))]
    )
    rate = F.coalesce(mapping[F.col(source_col)], F.lit(0))
    return df.filter(bucket < rate)


def plan_mixture(df: DataFrame, weights: dict[str, float],
                 token_budget: int, source_col: str = "source",
                 tokens_col: str = "n_tok") -> DataFrame:
    """The planning half of mixture rebalancing: given target mixture
    ``weights`` and a total ``token_budget``, compute the integer
    percent rate per source that ``sample_mixture`` should apply.

    Returns DataFrame[source, tokens long (available), weight double,
    target_tokens long (floor(budget * weight)), rate_pct int
    (min(100, (100 * target) div tokens) — a source smaller than its
    target is kept whole, i.e. no upsampling), expected_tokens long
    ((tokens * rate_pct) div 100)].  Sources absent from ``weights``
    get weight 0 and rate 0; all arithmetic after the one double
    multiply is integer division, so the plan is bit-identical in any
    engine.

    Scale shape: ONE groupBy(source) aggregate (map-side partials,
    source-bounded shuffle), then a map-only projection over
    |sources| rows.
    """
    if token_budget < 0:
        raise ValueError(f"token_budget must be >= 0, got {token_budget}")
    for src, wgt in weights.items():
        if wgt < 0:
            raise ValueError(f"weight for {src!r} must be >= 0, got {wgt}")
    per = (df.groupBy(F.col(source_col).alias("source"))
           .agg(F.sum(tokens_col).alias("tokens")))
    wmap = F.create_map(*[lit for src, wgt in weights.items()
                          for lit in (F.lit(src), F.lit(float(wgt)))])
    return (per
            .withColumn("weight", F.coalesce(wmap[F.col("source")],
                                             F.lit(0.0)))
            .withColumn("target_tokens",
                        F.floor(F.lit(float(token_budget))
                                * F.col("weight")).cast("long"))
            .withColumn("rate_pct",
                        F.when(F.col("tokens") > 0,
                               F.least(F.lit(100), F.expr(
                                   "(100 * target_tokens) div tokens")))
                        .otherwise(F.lit(0)).cast("int"))
            .withColumn("expected_tokens",
                        F.expr("(tokens * rate_pct) div 100")))


def bottom_k_sample(df: DataFrame, key_col: str, k: int,
                    priority_col: str = "pr") -> DataFrame:
    """The k rows with the smallest ``md5(key)`` — a deterministic,
    mergeable fixed-size sample (KMV bottom-k over the hashed key
    space).  Executes as per-partition top-k + k-row merge
    (TakeOrderedAndProject), never a global sort."""
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    pr = F.md5(F.col(key_col).cast("string"))
    return df.withColumn(priority_col, pr).orderBy(priority_col).limit(k)


def cap_per_key(df: DataFrame, key_col: str, max_rows: int,
                order_col: str = "doc_id") -> DataFrame:
    """Keep at most ``max_rows`` rows per key — per-domain / per-source
    quotas, the standard guard against one host dominating a crawl
    corpus.  Selection is DETERMINISTIC: within a key, rows rank by
    md5(key || order value) (a reproducible pseudo-random order, same
    discipline as md5_bucket), so the surviving set is a pure function
    of the data — identical across runs, engines, and retries.

    One shuffle on the key plus a per-key window rank — and because
    the predicate is ``row_number() <= N``, Catalyst plans a
    WindowGroupLimit BELOW the exchange (plan-asserted in tests): each
    input partition pre-truncates to its local top-N per key before
    shuffling, so even a pathologically giant key ships at most
    N * input_partitions rows, never the key's full row set.

    Determinism requires (key, order value) pairs to be UNIQUE per
    row (the normal doc_id contract): rows tied on both get identical
    sort keys and row_number breaks the tie by physical order, so
    which tied row survives is arbitrary across runs.
    """
    if max_rows <= 0:
        raise ValueError(f"max_rows must be positive, got {max_rows}")
    pr = F.md5(F.concat(F.col(key_col).cast("string"), F.lit("#"),
                        F.col(order_col).cast("string")))
    w = Window.partitionBy(key_col).orderBy(pr, F.col(order_col).cast("string"))
    return (
        df.withColumn("__cap_rn", F.row_number().over(w))
        .filter(F.col("__cap_rn") <= max_rows)
        .drop("__cap_rn")
    )


def md5_unit_interval(key_col: str, seed: int = 0) -> Column:
    """Deterministic uniform u in (0, 1) from the key: first 8 md5 hex
    digits of ``seed-key`` mapped to (x + 0.5) / 2^32.  The +0.5 and
    the power-of-two divide are exact in doubles, so Spark and ANSI SQL
    compute bit-identical u — the randomness primitive under
    weighted_sample (and anything else needing a per-key uniform)."""
    h = F.md5(F.concat(F.lit(f"{seed}-"), F.col(key_col).cast("string")))
    return (F.conv(F.substring(h, 1, 8), 16, 10).cast("double") + F.lit(0.5)) \
        / F.lit(4294967296.0)


def weighted_sample(df: DataFrame, key_col: str, weight_col: str, k: int,
                    seed: int = 0) -> DataFrame:
    """Weighted sampling WITHOUT replacement, k rows with inclusion
    probability proportional to weight — Efraimidis–Spirakis A-ES:
    each row draws priority ln(u)/w (u = deterministic md5 uniform,
    w = its weight) and the k LARGEST priorities win.  Training-data
    use: sample documents proportional to token count / quality score
    for eval panels and distillation subsets.

    Deterministic (pure function of seed + keys + weights — identical
    across runs, engines, partitionings) and MERGEABLE like
    bottom_k_sample: A-ES priorities are per-row, so the top-k of
    per-shard top-k's equals the global top-k, and Spark executes the
    orderBy(...).limit(k) exactly that way (TakeOrderedAndProject: a
    per-partition heap + a k-row driver merge, no global sort).

    Rows with weight <= 0, NULL, or NaN are excluded (probability 0).
    Ties beyond the float priority break on the key, so the result is
    total-ordered even under md5 collisions.
    """
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    u = md5_unit_interval(key_col, seed)
    w = F.col(weight_col).cast("double")
    # NaN > 0 is true under Spark's NaN-largest ordering and NaN
    # priorities would sort FIRST under desc — exclude explicitly
    pr = F.when((w > 0) & ~F.isnan(w), F.log(u) / w)
    return (
        df.withColumn("__wpr", pr)
        .filter(F.col("__wpr").isNotNull())
        .orderBy(F.desc("__wpr"), F.col(key_col).cast("string"))
        .limit(k)
        .drop("__wpr")
    )


def split_by_group(df: DataFrame, group_col: str, splits: dict[str, float],
                   seed: int = 0, out_col: str = "split") -> DataFrame:
    """Leakage-free train/val/test split: every row whose ``group_col``
    matches gets the SAME label, so no group (url domain, dedup
    cluster, author, source) straddles the train/eval boundary — the
    standard contamination control when near-duplicate rows share a
    group key.  Assignment is the md5 uniform of the group key cut at
    the cumulative fractions: a pure function of (seed, key), so the
    split is reproducible across runs, engines, partitionings, and
    corpus growth (new rows of an existing group join its split;
    existing rows never move).

    Map-only — one JVM-side predicate chain, no shuffle, no join; at
    100 TB the split is a scan-time column, and a writer can
    ``partitionBy(out_col)`` with no extra pass.

    ``splits`` maps label -> fraction (insertion order defines the
    threshold order); fractions must be positive and sum to 1.  Rows
    with NULL group keys get a NULL label.  NOTE: fractions apportion
    GROUPS, not rows — a skewed group drags its full row mass with it
    (that is the leakage-safety working as intended).
    """
    items = list(splits.items())
    if len(items) < 2:
        raise ValueError("need at least two splits")
    fracs = [f for _, f in items]
    if any(f <= 0 for f in fracs):
        raise ValueError(f"fractions must be positive, got {fracs}")
    if abs(sum(fracs) - 1.0) > 1e-9:
        raise ValueError(f"fractions must sum to 1, got {sum(fracs)}")
    u = md5_unit_interval(group_col, seed)
    expr = None
    cum = 0.0
    for name, f in items[:-1]:
        cum += f
        cond = u < F.lit(cum)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    expr = expr.otherwise(
        F.when(F.col(group_col).isNotNull(), F.lit(items[-1][0])))
    return df.withColumn(out_col, expr)


def bucket_by_quantile(df: DataFrame, value_col: str, n_buckets: int,
                       k: int = 200, out_col: str = "bucket") -> DataFrame:
    """Assign each row its ``n_buckets``-quantile bucket of
    ``value_col`` — length bucketing for sequence packing, curriculum
    binning, skew diagnosis — WITHOUT the global sort an exact ntile
    needs.  One KLL-sketch pass (tree-merged partials, the library's
    standard dataflow) yields the B-1 cut points within KLL's published
    rank-error bound; assignment is then a map-only comparison against
    a broadcast array of B-1 doubles, so the whole operator is one
    scan + one O(sketch-bytes) reduce — the 100 TB shape, vs
    ``ntile() OVER (ORDER BY ...)`` which is a single-reducer sort.

    Bucket b (0-based) = number of cut points <= value; ties at a cut
    all land on the upper side, and degenerate distributions (a value
    spanning multiple cuts) simply leave intermediate buckets empty —
    assignment stays monotone in the value.  NULL and NaN values get
    a NULL bucket (the sketch never sees NaN either).  Rank accuracy follows the sketch: ~O(1/k) normalized rank
    error at the default k=200, so bucket POPULATIONS are near-equal
    while bucket MEMBERSHIP at the boundary is approximate — callers
    needing exact boundaries want an exact percentile job instead.
    """
    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2, got {n_buckets}")
    from presto_bloomfilter_spark.functions.kll import KLLSketch

    from .aggregate import aggregate_sketch, sketch_spec

    import numpy as np

    sk = aggregate_sketch(
        df.select(F.col(value_col).cast("double").alias("__v"))
          .filter(F.col("__v").isNotNull()),
        sketch_spec(KLLSketch, "__v", "floats", k=k),
    )
    if sk.n == 0:
        # no non-null values: every bucket is NULL, same as the rows
        return df.withColumn(out_col, F.lit(None).cast("int"))
    qs = [i / n_buckets for i in range(1, n_buckets)]
    cuts = [float(c) for c in np.atleast_1d(sk.quantile(qs))]
    arr = F.array(*[F.lit(c) for c in cuts])
    v = F.col(value_col).cast("double")
    # NaN is dropped by the sketch, so treat it like NULL at assignment
    # too (NaN-largest semantics would otherwise dump all NaNs into the
    # top bucket and skew the promised near-equal populations)
    bucket = F.when(
        v.isNotNull() & ~F.isnan(v),
        F.size(F.filter(arr, lambda c: c <= v)),
    )
    return df.withColumn(out_col, bucket)


def weighted_sample_per_key(df: DataFrame, group_col: str, key_col: str,
                            weight_col: str, k: int,
                            seed: int = 0) -> DataFrame:
    """A-ES weighted sampling WITHIN each group: at most ``k`` rows per
    ``group_col`` value, inclusion probability proportional to
    ``weight_col`` — the weighted sibling of ``cap_per_key`` (balanced
    per-source panels that still favor long / high-quality documents).
    Same Efraimidis–Spirakis priority as ``weighted_sample``
    (ln(u)/w, u = bit-exact md5 uniform of the row key), ranked by a
    per-group window instead of a global top-k, so the surviving set
    is a pure function of (seed, keys, weights) — reproducible across
    runs, engines, and partitionings.

    Scale shape: one shuffle on the group key, and the ``row_number()
    <= k`` predicate plans a WindowGroupLimit BELOW the exchange
    (plan-asserted in tests) — each input partition pre-truncates to
    its local top-k per group before shuffling, so a giant group
    ships at most k * input_partitions rows.

    Rows with weight <= 0, NULL, or NaN are excluded (probability 0); ties
    beyond the float priority break on the key.
    """
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    u = md5_unit_interval(key_col, seed)
    wgt = F.col(weight_col).cast("double")
    # same NaN exclusion as weighted_sample: NaN > 0 is true and NaN
    # priorities would deterministically steal top-k slots
    pr = F.when((wgt > 0) & ~F.isnan(wgt), F.log(u) / wgt)
    w = Window.partitionBy(group_col).orderBy(
        F.desc("__wpr"), F.col(key_col).cast("string"))
    return (
        df.withColumn("__wpr", pr)
        .filter(F.col("__wpr").isNotNull())
        .withColumn("__wrn", F.row_number().over(w))
        .filter(F.col("__wrn") <= k)
        .drop("__wpr", "__wrn")
    )
