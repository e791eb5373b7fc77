"""Train/test contamination detection via word-n-gram overlap.

The standard decontamination job for LLM training corpora: find
training documents sharing n-grams with an evaluation/test set so they
can be dropped or flagged.  Two paths with identical output schema
``(id, n_grams, n_contaminated, frac)``:

- ``contamination_exact``: the train side's distinct per-doc grams
  semi-join the distinct test-gram universe.  Exact, SQL-expressible
  (the DuckDB oracle recomputes it), right whenever the test-gram
  universe fits a shuffle/broadcast — the usual case, since eval sets
  are orders of magnitude smaller than the corpus.

- ``contamination_bloom``: the 100 TB path.  One mergeable Bloom
  filter is built over the test-gram universe (partition-parallel
  ``aggregate_sketch``; inserts are idempotent so the build skips the
  distinct shuffle entirely) and broadcast; train grams probe it in a
  map-only stage and only ``(doc, partial count)`` rows shuffle.  The
  train corpus is never shuffled and never joined.  No false
  negatives — a contaminated gram is never missed; overcount is
  bounded by the filter's false-positive rate (``fpp``), i.e.
  ``frac_bloom - frac_exact`` concentrates below ``fpp``.

Gram semantics match ``dedup.ngram_jaccard_pairs`` exactly (whitespace
words, ``str.split()`` semantics; documents with fewer than ``n``
words contribute their single joined-words gram; per-doc grams are
distinct), so the two operators and the dedup family agree on what "a
shared n-gram" means.

Reference scope note: presto-bloomfilter ships the bloom machinery
(BloomFilter.java put/mightContain, the aggregation + scalar probe);
this operator is the training-pipeline application of that machinery
at corpus scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from presto_bloomfilter_spark.functions.bloom import BloomFilter

from . import aggregate as agg
from .probe import contains_udf

_OUT_SCHEMA = ("id", "n_grams", "n_contaminated", "frac")


def split_words(text_col: str):
    """Column expression: the repo-wide word split — Python
    ``str.split()`` semantics (whitespace runs, no empties).  Every
    word-level operator and its DuckDB oracle depend on this exact
    definition; reference it, never re-inline it."""
    return F.filter(F.split(F.col(text_col), r"\s+"), lambda w: w != "")


def word_grams(text_col: str, n: int):
    """Column expression: word n-grams WITH multiplicity (str.split()
    word semantics; < n words → one joined gram).  The single shared
    gram recipe — ``word_ngrams`` adds the distinct, repetition
    metrics count the duplicates."""
    words = split_words(text_col)
    return F.when(
        F.size(words) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(words) - n),
            lambda i: F.concat_ws(" ", *[F.element_at(words, i + j + 1) for j in range(n)]),
        ),
    ).otherwise(F.array(F.concat_ws(" ", words)))


def word_ngrams(text_col: str, n: int):
    """Column expression: DISTINCT word n-grams of a text column."""
    return F.array_distinct(word_grams(text_col, n))


def token_ngrams(tokens_col: str, n: int):
    """Column expression: distinct token-id n-grams of an
    ``array<int>`` column, stringified space-joined so the gram key is
    engine-portable (DuckDB: ``array_to_string(tokens[i:i+n-1], ' ')``).
    Sequences shorter than ``n`` contribute their whole token string —
    the token-table analogue of ``word_ngrams``."""
    toks = F.transform(F.col(tokens_col), lambda t: t.cast("string"))
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        ),
    ).otherwise(F.array(F.concat_ws(" ", toks)))
    return F.array_distinct(grams)


_EMPTY_GRAM_TOKEN = "\x00<empty-doc>"


def _bloomable(col):
    """'' is invisible to BloomFilter.add/might_contain (reference
    empty-element semantics, bloom.py:164,205) but IS a legitimate gram
    — an empty/whitespace-only doc's single gram — that the exact path
    counts.  Map it to a sentinel on BOTH insert and probe so the bloom
    paths keep the documented no-false-negative contract for it."""
    from .probe import map_empty_to

    return map_empty_to(col, _EMPTY_GRAM_TOKEN)


def _doc_grams(df: DataFrame, grams_expr, id_col: str) -> DataFrame:
    return df.select(
        F.col(id_col).cast("string").alias("id"),
        F.explode(grams_expr).alias("g"),
    )


def _exact_on_grams(train_grams: DataFrame, test_grams: DataFrame,
                    broadcast_universe: bool) -> DataFrame:
    universe = test_grams.select("g").distinct()
    if broadcast_universe:
        universe = F.broadcast(universe)
    totals = train_grams.groupBy("id").agg(F.count(F.lit(1)).alias("n_grams"))
    hits = (
        train_grams.join(universe, "g", "left_semi")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )
    return (
        totals.join(hits, "id", "left")
        .select(
            "id",
            "n_grams",
            F.coalesce(F.col("n_contaminated"), F.lit(0)).alias("n_contaminated"),
            (F.coalesce(F.col("n_contaminated"), F.lit(0)) / F.col("n_grams"))
            .cast("double")
            .alias("frac"),
        )
    )


def _probe_and_aggregate(train_grams: DataFrame, seen_filter) -> DataFrame:
    """Shared tail of every filter-backed contamination path: flag each
    train gram against the (broadcast) seen-filter through the empty-
    gram sentinel, then per-doc totals — one place to keep the output
    contract for bloom and xor alike."""
    spark = train_grams.sparkSession
    flagged = train_grams.withColumn(
        "__hit", contains_udf(spark, seen_filter)(_bloomable(F.col("g"))).cast("int")
    )
    return flagged.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.sum("__hit").alias("n_contaminated"),
        (F.sum("__hit") / F.count(F.lit(1))).cast("double").alias("frac"),
    )


def _bloom_on_grams(train_grams: DataFrame, test_grams: DataFrame,
                    expected_grams: int, fpp: float) -> DataFrame:
    # bloom inserts are idempotent: build straight over the exploded
    # grams, no distinct shuffle
    bf = agg.aggregate_sketch(
        test_grams.select(_bloomable(F.col("g")).alias("g")),
        agg.sketch_spec(BloomFilter, "g", "strings", expected_grams, fpp),
    )
    return _probe_and_aggregate(train_grams, bf)


def contamination_exact(
    train_df: DataFrame,
    test_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    broadcast_universe: bool = True,
) -> DataFrame:
    """Per-train-doc contaminated-gram fraction against the exact
    distinct test-gram universe.

    ``broadcast_universe=True`` (default) broadcasts the distinct
    test-gram set — correct when the eval set is small, which makes the
    probe a map-side semi join; pass False to let AQE pick a shuffle
    join for an unusually large universe.
    """
    return _exact_on_grams(
        _doc_grams(train_df, word_ngrams(text_col, n), id_col),
        test_df.select(F.explode(word_ngrams(text_col, n)).alias("g")),
        broadcast_universe,
    )


def contamination_bloom(
    train_df: DataFrame,
    test_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    expected_grams: int = 1_000_000,
    fpp: float = 0.001,
) -> DataFrame:
    """Bloom-accelerated contamination: map-only probe of the train
    corpus against one broadcast filter built over the test grams.

    No false negatives; per-doc ``n_contaminated`` may overcount by
    ~``fpp`` of the clean grams.  Size ``expected_grams`` to the test
    set's distinct-gram count (a 1M-gram filter at fpp=0.001 is ~1.8 MB
    — broadcast-trivial; at 10^9 grams shard with
    ``operators.sharded``)."""
    return _bloom_on_grams(
        _doc_grams(train_df, word_ngrams(text_col, n), id_col),
        test_df.select(F.explode(word_ngrams(text_col, n)).alias("g")),
        expected_grams, fpp,
    )


def contamination_xor(
    train_df: DataFrame,
    test_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    fp_bits: int = 16,
) -> DataFrame:
    """Contamination against a STATIC xor filter over the test grams
    (functions/xorf.py) — the natural fit, since an eval set is frozen
    by definition.

    Two advantages over :func:`contamination_bloom`: the filter is
    sized automatically from the actual distinct-gram count (no
    ``expected_grams`` capacity guess to get wrong), and it is ~32%
    smaller at equal FPR — less broadcast bytes per executor.  Same
    no-false-negative / FP-overcount contract; overcount rate is
    2^-fp_bits (16 → ~1.5e-5 of clean grams).  The build peels in one
    executor task, so it covers eval sets up to ~10^8 distinct grams;
    beyond that use :func:`contamination_sharded`."""
    from .staticfilter import build_xor_filter

    train_grams = _doc_grams(train_df, word_ngrams(text_col, n), id_col)
    test_grams = test_df.select(
        F.explode(word_ngrams(text_col, n)).alias("g")
    ).select(_bloomable(F.col("g")).alias("g"))
    xf = build_xor_filter(test_grams, "g", fp_bits=fp_bits, ints=False)
    return _probe_and_aggregate(train_grams, xf)


def contamination_sharded(
    train_df: DataFrame,
    test_df: DataFrame,
    store_root: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    shards: int = 4,
    expected_grams_per_shard: int = 250_000,
    fpp: float = 0.001,
    name: str = "contam",
) -> DataFrame:
    """Contamination when even the test-gram FILTER exceeds one
    broadcast (10^9+ distinct grams): the seen-set is a hash-sharded
    bloom family (``operators/sharded.py``) — one grouped job builds S
    per-shard filters (raw grams never shuffle, only S blobs), probes
    repartition by shard so each task loads exactly ONE n/S-sized
    filter from the shared store.  Same output schema and
    no-false-negative/fpp-overcount contract as
    :func:`contamination_bloom`; peak executor memory is one shard
    filter regardless of total capacity.

    ``store_root`` must be storage every executor can read (object
    store path on a real cluster) — the sharded probe fails loudly on
    a missing shard object rather than silently dropping rows."""
    from ..store import SketchStore
    from .sharded import build_sharded_bloom, persist_sharded_bloom, sharded_contains

    spark = train_df.sparkSession
    test_grams = test_df.select(
        F.explode(word_ngrams(text_col, n)).alias("g")
    ).select(_bloomable(F.col("g")).alias("g"))
    family = build_sharded_bloom(
        test_grams, "g", shards, expected_grams_per_shard, fpp)
    persist_sharded_bloom(
        family, SketchStore(store_root), name, shards,
        expected_grams_per_shard, fpp)
    grams = _doc_grams(train_df, word_ngrams(text_col, n), id_col) \
        .withColumn("g", _bloomable(F.col("g")))
    # ONE scan: every gram probes its shard and carries a hit flag;
    # totals and hits aggregate together (the previous totals/hits
    # join evaluated the full gram explosion twice)
    flagged = sharded_contains(
        spark, grams, "g", store_root, name, shards, flag_col="__hit")
    return (
        flagged.groupBy("id").agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.col("__hit").cast("int")).alias("n_contaminated"),
            (F.sum(F.col("__hit").cast("int")) / F.count(F.lit(1)))
            .cast("double")
            .alias("frac"),
        )
    )


def contamination_exact_tokens(
    train_df: DataFrame,
    test_df: DataFrame,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    n: int = 8,
    broadcast_universe: bool = True,
) -> DataFrame:
    """Token-id n-gram contamination over the pre-tokenized sequence
    table (the north-rule input shape) — exact form."""
    return _exact_on_grams(
        _doc_grams(train_df, token_ngrams(tokens_col, n), id_col),
        test_df.select(F.explode(token_ngrams(tokens_col, n)).alias("g")),
        broadcast_universe,
    )


def contamination_bloom_tokens(
    train_df: DataFrame,
    test_df: DataFrame,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    n: int = 8,
    expected_grams: int = 1_000_000,
    fpp: float = 0.001,
) -> DataFrame:
    """Token-id n-gram contamination, bloom map-only scale path."""
    return _bloom_on_grams(
        _doc_grams(train_df, token_ngrams(tokens_col, n), id_col),
        test_df.select(F.explode(token_ngrams(tokens_col, n)).alias("g")),
        expected_grams, fpp,
    )
