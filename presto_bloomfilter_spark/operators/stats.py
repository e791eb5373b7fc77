"""Corpus-distribution statistics over token streams: per-source unigram
entropy, KL divergence to the corpus mixture, and pairwise Jensen-Shannon
divergence between sources.

Training-data mixture monitoring: when a 100 TB corpus is assembled from
many sources (crawl snapshots, curated sets, code, ...), the unigram
distribution per source is the cheapest early-warning signal — a source
whose KL-to-corpus jumps between snapshots changed its content mix; a
pair of "different" sources with near-zero JSD is a duplicated feed.
DSIR-style selection (operators/selection.py) weighs documents by the
same family of statistics; this module reports them at source granularity.

Scale posture
-------------
Everything is vocabulary-bounded.  The only corpus-sized pass is the
explode → hash-aggregate on (source, token), which partial-aggregates
map-side, so the shuffle carries at most |sources| x |vocab| rows (a
tokenizer vocabulary is 50k-250k ids) regardless of corpus bytes.  All
downstream joins/aggregations operate on that vocab-bounded table; the
corpus-total scalar is a broadcast one-row cross join, and the dense
source x vocab grid for JSD is |sources|^2 x |vocab| / 2 pair rows at
worst — megabytes, never corpus-scale.  No Python in any path: pure
Catalyst expressions end to end.

Float discipline: entropies/divergences are ln() sums whose summation
order differs between engines, so public outputs are rounded to 6
decimals (the repo-wide oracle ulp discipline, cf. operators/selection.py).

Caching: each operator consumes its vocabulary-bounded count table from
SEVERAL plan branches (totals, corpus marginals, grand total, self-
join sides).  Catalyst does not share subplans across branches, so
without materialization every branch would re-run the corpus-sized
explode+aggregate — 4-5 full corpus scans instead of 1 at 100 TB.  The
operators therefore ``persist()`` those small intermediates (megabytes:
|sources| x |vocab| rows) and leave eviction to Spark's LRU; they stay
valid for the returned lazy plan's lifetime.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

__all__ = ["unigram_counts", "source_token_divergence", "source_pairwise_jsd",
           "pmi_bigrams", "zipf_alpha"]

_ROUND = 6


def _r6(col):
    """Round to 6 decimals and normalize -0.0 → 0.0 (a near-zero ln-sum
    can land on either side of 0 per engine; the +0.0 makes the two
    hash identically without changing any other value)."""
    return F.round(col.cast("double"), _ROUND) + F.lit(0.0)


def _unigram_counts(df: DataFrame, tokens_col: str, source_col: str) -> DataFrame:
    """(source, token, c) exact unigram counts; the one corpus-sized pass."""
    return (
        df.select(F.col(source_col).alias("source"),
                  F.explode(F.col(tokens_col)).alias("token"))
        .groupBy("source", "token")
        .agg(F.count("*").alias("c"))
    )


def unigram_counts(
    df: DataFrame, tokens_col: str = "tokens", source_col: str = "source",
) -> DataFrame:
    """The (source, token, c) exact unigram-count table every statistic
    in this module derives from.  Callers running SEVERAL statistics
    over the same corpus should compute this once, ``persist()`` it,
    and pass it via the operators' ``counts`` parameter — otherwise
    each operator runs its own corpus-sized explode+aggregate."""
    return _unigram_counts(df, tokens_col, source_col)


def source_token_divergence(
    df: DataFrame, tokens_col: str = "tokens", source_col: str = "source",
    counts: DataFrame | None = None,
) -> DataFrame:
    """Per-source unigram statistics vs the corpus mixture.

    Returns one row per source:
      source    - the group key
      n_tok     - total token occurrences in the source
      n_types   - distinct token ids in the source
      entropy   - Shannon entropy of the source unigram distribution, nats
      kl_corpus - KL(p_source || p_corpus), nats; finite by construction
                  because support(p_source) is a subset of support(p_corpus)

    entropy/kl_corpus are rounded to 6 decimals (ln-sum ulp discipline).

    ``counts``: an optional precomputed :func:`unigram_counts` table
    (persist it!) shared with the module's other statistics.
    """
    per = (counts if counts is not None
           else _unigram_counts(df, tokens_col, source_col)).persist()
    totals = per.groupBy("source").agg(
        F.sum("c").alias("n_tok"), F.count("*").alias("n_types"))
    corpus = per.groupBy("token").agg(F.sum("c").alias("cc"))
    grand = per.agg(F.sum("c").alias("nn"))

    j = (
        per.join(F.broadcast(corpus), "token")
        .join(F.broadcast(totals), "source")
        .crossJoin(F.broadcast(grand))
    )
    p = F.col("c") / F.col("n_tok")
    q = F.col("cc") / F.col("nn")
    return (
        j.groupBy("source")
        .agg(
            F.max("n_tok").alias("n_tok"),
            F.max("n_types").alias("n_types"),
            _r6(-F.sum(p * F.log(p))).alias("entropy"),
            _r6(F.sum(p * F.log(p / q))).alias("kl_corpus"),
        )
        .select("source", "n_tok", "n_types", "entropy", "kl_corpus")
    )


def pmi_bigrams(
    df: DataFrame,
    tokens_col: str = "tokens",
    k: int = 50,
    min_count: int = 5,
) -> DataFrame:
    """Top-k adjacent-token collocations by pointwise mutual
    information: PMI(a,b) = ln( p(a,b) / (p(a) p(b)) ) with p(a,b) over
    adjacent bigram occurrences and p(.) over unigram occurrences —
    the standard collocation-extraction statistic (BPE merge selection
    and phrase mining both rank candidates this way).

    ``min_count`` drops rare bigrams (a hapax pair has spuriously
    maximal PMI).  Output: (a, b, cnt, pmi) with pmi rounded to 6
    decimals; ordered deterministically by (pmi desc, a, b) and
    LIMIT k — ties broken on the rounded value, so the row set is
    engine-portable.

    Scale: the bigram/unigram passes partial-aggregate map-side, so
    shuffles are vocabulary(+bigram-vocabulary)-bounded; the final
    top-k is a TakeOrderedAndProject over the min_count-filtered
    bigram table, never a global sort of the corpus.
    """
    t = tokens_col
    pairs = F.expr(
        f"CASE WHEN size({t}) >= 2 THEN "
        f"transform(sequence(0, size({t}) - 2), "
        f"i -> struct({t}[i] AS a, {t}[i + 1] AS b)) "
        f"ELSE array() END"
    )
    bi = (
        df.select(F.explode(pairs).alias("p"))
        .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("cnt"))
    ).persist()
    uni = (
        df.select(F.explode(F.col(t)).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("uc"))
    ).persist()
    n_bi = bi.agg(F.sum("cnt").alias("nb"))
    n_uni = uni.agg(F.sum("uc").alias("nu"))
    scored = (
        bi.filter(F.col("cnt") >= min_count)
        .join(F.broadcast(uni.withColumnRenamed("tok", "a")
                          .withColumnRenamed("uc", "ua")), "a")
        .join(F.broadcast(uni.withColumnRenamed("tok", "b")
                          .withColumnRenamed("uc", "ub")), "b")
        .crossJoin(F.broadcast(n_bi))
        .crossJoin(F.broadcast(n_uni))
        .select(
            "a", "b", "cnt",
            _r6(F.log(
                (F.col("cnt") / F.col("nb"))
                / ((F.col("ua") / F.col("nu")) * (F.col("ub") / F.col("nu")))
            )).alias("pmi"),
        )
    )
    return scored.orderBy(F.desc("pmi"), F.asc("a"), F.asc("b")).limit(k)


def zipf_alpha(
    df: DataFrame,
    tokens_col: str = "tokens",
    source_col: str | None = "source",
    max_rank: int = 500,
) -> DataFrame:
    """Per-source Zipf exponent: OLS slope of ln(count) on ln(rank)
    over the top ``max_rank`` token types (rank by count desc, token
    asc — deterministic), reported as alpha = -slope.  Natural text
    sits near alpha ~= 1; a source drifting far from its historical
    alpha changed character (template spam collapses toward 0 in the
    head, heavy boilerplate pushes it up).

    Pass ``source_col=None`` for one corpus-wide row (source '<all>').
    Sources with fewer than 2 ranked types are omitted (the slope is
    undefined).  Same scale posture as the rest of the module: one
    vocabulary-bounded aggregate, then a per-source window over at most
    |sources| x |vocab| rows.  alpha rounded to 6 decimals.
    """
    src = (F.col(source_col) if source_col is not None
           else F.lit("<all>")).alias("source")
    per = (
        df.select(src, F.explode(F.col(tokens_col)).alias("token"))
        .groupBy("source", "token")
        .agg(F.count("*").alias("c"))
    )
    w = Window.partitionBy("source").orderBy(F.desc("c"), F.asc("token"))
    ranked = (
        per.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= max_rank)
        .select("source",
                F.log(F.col("rank").cast("double")).alias("x"),
                F.log(F.col("c").cast("double")).alias("y"))
    )
    return (
        ranked.groupBy("source")
        .agg(
            F.count("*").alias("n_ranked"),
            (F.covar_pop("x", "y") / F.var_pop("x")).alias("slope"),
        )
        .filter(F.col("n_ranked") >= 2)
        .select("source", "n_ranked", _r6(-F.col("slope")).alias("alpha"))
    )


def source_pairwise_jsd(
    df: DataFrame, tokens_col: str = "tokens", source_col: str = "source",
    counts: DataFrame | None = None,
) -> DataFrame:
    """Jensen-Shannon divergence (nats) between every pair of sources'
    unigram distributions: one row per unordered pair (source_a <
    source_b), column jsd in [0, ln 2].

    JSD(p,q) = 0.5*KL(p||m) + 0.5*KL(q||m) with m = (p+q)/2.  Tokens
    absent from one side contribute 0.5*p*ln(2) from the other — handled
    by densifying over the pair's support union via a full outer join on
    token within each pair (missing side treated as probability 0, and
    0*ln(0) terms dropped by the p>0 filters).

    ``counts``: an optional precomputed :func:`unigram_counts` table
    (persist it!) shared with the module's other statistics.
    """
    per = (counts if counts is not None
           else _unigram_counts(df, tokens_col, source_col)).persist()
    totals = per.groupBy("source").agg(F.sum("c").alias("n_tok"))
    probs = (
        per.join(F.broadcast(totals), "source")
        .select("source", "token", (F.col("c") / F.col("n_tok")).alias("p"))
    ).persist()
    a = probs.select(F.col("source").alias("source_a"),
                     "token", F.col("p").alias("pa"))
    b = probs.select(F.col("source").alias("source_b"),
                     "token", F.col("p").alias("pb"))
    # union support per pair: join on token only, keep a<b ordering; a
    # token missing from one source simply produces no row for that
    # (pair, token) on that side — recovered below by splitting JSD into
    # the intersection term plus each side's exclusive mass. Exclusive
    # mass needs no join at all: sum over tokens of pa where the token
    # is absent from b equals 1 - (intersection pa mass).
    inter = a.join(b, "token").filter(F.col("source_a") < F.col("source_b"))
    m = (F.col("pa") + F.col("pb")) / F.lit(2.0)
    inter_terms = inter.groupBy("source_a", "source_b").agg(
        F.sum(0.5 * F.col("pa") * F.log(F.col("pa") / m)
              + 0.5 * F.col("pb") * F.log(F.col("pb") / m)).alias("jsd_inter"),
        F.sum("pa").alias("mass_a"),
        F.sum("pb").alias("mass_b"),
    )
    # every unordered pair, even fully disjoint ones (no intersection rows)
    srcs = totals.select(F.col("source"))
    pairs = (
        srcs.select(F.col("source").alias("source_a"))
        .crossJoin(srcs.select(F.col("source").alias("source_b")))
        .filter(F.col("source_a") < F.col("source_b"))
    )
    ln2 = F.log(F.lit(2.0))
    out = (
        pairs.join(F.broadcast(inter_terms), ["source_a", "source_b"], "left")
        .select(
            "source_a", "source_b",
            _r6(
                F.coalesce(F.col("jsd_inter"), F.lit(0.0))
                + 0.5 * ((1.0 - F.coalesce(F.col("mass_a"), F.lit(0.0)))
                         + (1.0 - F.coalesce(F.col("mass_b"), F.lit(0.0)))) * ln2
            ).alias("jsd"),
        )
    )
    return out


def source_datacard(df: DataFrame, text_col: str = "text",
                    source_col: str = "source", lang_col: str = "lang") -> DataFrame:
    """Per-source corpus data card — the one-page dataset summary a
    curation pipeline publishes next to a training mixture: document /
    word / char volumes, length distribution (min, exact histogram
    median, max), exact-duplicate counts, and language composition
    (distinct languages + modal language with a deterministic
    lexicographic tie-break).

    Everything is an exact integer or string (value-oracle friendly).
    100 TB posture: all shuffles key on ``source`` (tiny cardinality,
    partial aggregation map-side); the median never sorts rows — it is
    read off a (source, n_chars) distinct-VALUE histogram (bounded by
    value cardinality, the key_skew pattern); exact-dup counting is
    countDistinct over md5 digests, not a self-join.

    Returns one row per source:
    (source, n_docs, n_words, n_chars_sum, n_chars_min, p50_chars,
     n_chars_max, dup_docs, n_langs, top_lang).
    """
    words = F.filter(F.split(F.col(text_col), r"\s+"), lambda w: w != "")
    base = df.select(
        F.col(source_col).alias("source"),
        F.col(lang_col).alias("lang"),
        F.size(words).alias("n_words"),
        F.length(F.col(text_col)).alias("n_chars"),
        F.md5(F.col(text_col)).alias("h"),
    )
    base.persist()
    try:
        core = base.groupBy("source").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").alias("n_words_sum"),
            F.sum(F.col("n_chars").cast("long")).alias("n_chars_sum"),
            F.min("n_chars").alias("n_chars_min"),
            F.max("n_chars").alias("n_chars_max"),
            (F.count(F.lit(1)) - F.countDistinct("h")).alias("dup_docs"),
            F.countDistinct("lang").alias("n_langs"),
        )
        # exact median of n_chars off the distinct-value histogram:
        # smallest value whose cumulative doc count reaches ceil(n/2)
        hist = base.groupBy("source", "n_chars").agg(F.count(F.lit(1)).alias("c"))
        wcum = Window.partitionBy("source").orderBy("n_chars") \
                     .rowsBetween(Window.unboundedPreceding, 0)
        med = (
            hist.withColumn("cum", F.sum("c").over(wcum))
            .join(base.groupBy("source").agg(F.count(F.lit(1)).alias("n")), "source")
            .filter(F.col("cum") >= F.ceil(F.col("n") / 2))
            .groupBy("source").agg(F.min("n_chars").alias("p50_chars"))
        )
        # modal language, ties broken lexicographically
        lrank = Window.partitionBy("source").orderBy(
            F.desc("lc"), F.asc("lang"))
        top_lang = (
            base.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("lc"))
            .withColumn("rn", F.row_number().over(lrank))
            .filter(F.col("rn") == 1)
            .select("source", F.col("lang").alias("top_lang"))
        )
        out = (
            core.join(med, "source").join(top_lang, "source")
            .select("source", "n_docs",
                    F.col("n_words_sum").alias("n_words"),
                    "n_chars_sum", "n_chars_min", "p50_chars", "n_chars_max",
                    "dup_docs", "n_langs", "top_lang")
        )
        out = out.localCheckpoint(eager=True)
    finally:
        base.unpersist()
    return out


def vocab_coverage(df: DataFrame, budgets: list[int],
                   text_col: str = "text",
                   source_col: str = "source") -> DataFrame:
    """Vocabulary-budget coverage — the tokenizer-design statistic: for
    each budget V in ``budgets``, take the top-V corpus words (count
    desc, word asc tie-break) as the vocabulary and report, per source,
    how many word occurrences fall outside it (the OOV rate a V-entry
    word-level vocabulary would pay on that source).

    Returns (vocab_size, source, total_tokens, oov_tokens, oov_rate)
    with oov_rate the single division oov/total (bit-exact parity).

    100 TB posture: one word-count shuffle (map-side partials), then
    everything happens on the VOCABULARY-bounded count table — the
    global rank window is a single partition over distinct words, not
    rows (the stats.py precedent), budgets arrive by a tiny broadcast
    cross join, and the final aggregate keys on (vocab_size, source).
    Word semantics = repo-wide str.split().
    """
    spark = df.sparkSession
    words = F.filter(F.split(F.col(text_col), r"\s+"), lambda w: w != "")
    counts = (
        df.select(F.col(source_col).alias("source"),
                  F.explode(words).alias("w"))
        .groupBy("source", "w").agg(F.count(F.lit(1)).alias("cnt"))
    )
    counts.persist()
    try:
        ranks = (
            counts.groupBy("w").agg(F.sum("cnt").alias("gcnt"))
            .withColumn("rank", F.row_number().over(
                Window.orderBy(F.desc("gcnt"), F.asc("w"))))
            .select("w", "rank")
        )
        bdf = spark.createDataFrame([(int(b),) for b in budgets],
                                    "vocab_size int")
        out = (
            counts.join(ranks, "w")
            .crossJoin(F.broadcast(bdf))
            .groupBy("vocab_size", "source")
            .agg(
                F.sum("cnt").alias("total_tokens"),
                F.sum(F.when(F.col("rank") > F.col("vocab_size"),
                             F.col("cnt")).otherwise(F.lit(0)))
                 .alias("oov_tokens"),
            )
            .withColumn("oov_rate", F.col("oov_tokens") / F.col("total_tokens"))
        )
        out = out.localCheckpoint(eager=True)
    finally:
        counts.unpersist()
    return out


def psi_drift(ref_df: DataFrame, cur_df: DataFrame,
              bucket_col: str) -> DataFrame:
    """Population Stability Index between a reference sample and a
    current sample over a bucket column — the standard production
    drift monitor (PSI < 0.1 stable, 0.1-0.25 moderate, > 0.25 major
    shift).  ``bucket_col`` is any precomputed category: an event type,
    a fixed-width numeric bin (``floor(value / w)``), a quantile bucket
    from sampling.bucket_by_quantile, a language id.

    PSI = Σ_b (p_b − q_b)·ln(p_b / q_b) over the UNION bucket support,
    with Laplace(0.5) smoothing so buckets present on only one side
    contribute finite, deterministic terms (the replayable form of the
    usual epsilon-clip).

    Returns per-bucket rows (bucket, ref_cnt, cur_cnt, psi_term) plus
    the repeated ``psi_total`` — both rounded to 6 decimals with the
    stats-module -0.0 normalization for engine parity.

    100 TB posture: one count shuffle per side keyed on the bucket
    (bounded by bucket cardinality, map-side partials), a bounded
    outer join on bucket, totals by single-row broadcast cross join —
    row data never moves.
    """
    rc = ref_df.groupBy(F.col(bucket_col).alias("bucket")).agg(
        F.count(F.lit(1)).alias("ref_cnt"))
    cc = cur_df.groupBy(F.col(bucket_col).alias("bucket")).agg(
        F.count(F.lit(1)).alias("cur_cnt"))
    joined = (
        rc.join(cc, "bucket", "full_outer")
        .select(
            "bucket",
            F.coalesce(F.col("ref_cnt"), F.lit(0)).alias("ref_cnt"),
            F.coalesce(F.col("cur_cnt"), F.lit(0)).alias("cur_cnt"),
        )
    )
    joined.persist()
    try:
        totals = joined.agg(
            F.sum("ref_cnt").alias("__rn"),
            F.sum("cur_cnt").alias("__cn"),
            F.count(F.lit(1)).alias("__k"),
        )
        p = (F.col("ref_cnt") + 0.5) / (F.col("__rn") + 0.5 * F.col("__k"))
        q = (F.col("cur_cnt") + 0.5) / (F.col("__cn") + 0.5 * F.col("__k"))
        terms = joined.crossJoin(F.broadcast(totals)).withColumn(
            "psi_term", (p - q) * F.log(p / q))
        wtot = Window.partitionBy()
        out = terms.select(
            "bucket", "ref_cnt", "cur_cnt",
            _r6(F.col("psi_term")).alias("psi_term"),
            _r6(F.sum("psi_term").over(wtot)).alias("psi_total"),
        )
        out = out.localCheckpoint(eager=True)
    finally:
        joined.unpersist()
    return out


def log_odds_keywords(df: DataFrame, group_a: str, group_b: str,
                      k: int = 20, text_col: str = "text",
                      source_col: str = "source",
                      alpha: float = 0.01) -> DataFrame:
    """'Fightin' Words' keyword divergence (Monroe, Colaresi, Quinn
    2008): the words that most distinguish corpus slice A from slice B,
    ranked by the z-score of the Dirichlet-smoothed log-odds ratio —
    the statistically honest version of the naive frequency-ratio
    keyword list (which over-ranks rare words).

    For word w with counts y_aw, y_bw, totals n_a, n_b, and prior
    alpha_w = alpha * (y_aw + y_bw) (the informed prior scaled from the
    pooled corpus):

        delta_w = ln((y_aw + a_w) / (n_a + a0 - y_aw - a_w))
                - ln((y_bw + a_w) / (n_b + a0 - y_bw - a_w))
        var_w   = 1/(y_aw + a_w) + 1/(y_bw + a_w)
        z_w     = delta_w / sqrt(var_w)

    Returns the top-k words for EACH side: (side, rank, word, cnt_a,
    cnt_b, z) with z rounded to 6 decimals (ln-sum ulp discipline) —
    side 'a' rows are the words most over-represented in A, 'b' in B.

    100 TB posture: one word-count shuffle with map-side partials, then
    everything is arithmetic on the VOCABULARY-bounded count table;
    totals arrive by a single-row broadcast cross join and the two
    top-k's are TakeOrderedAndProject — no global sort, no Python.
    """
    words = F.filter(F.split(F.col(text_col), r"\s+"), lambda w: w != "")
    tagged = df.filter(F.col(source_col).isin([group_a, group_b])).select(
        F.when(F.col(source_col) == group_a, F.lit("a")).otherwise(F.lit("b"))
         .alias("side"),
        F.explode(words).alias("w"),
    )
    counts = (
        tagged.groupBy("w").agg(
            F.sum((F.col("side") == "a").cast("long")).alias("cnt_a"),
            F.sum((F.col("side") == "b").cast("long")).alias("cnt_b"),
        )
    )
    counts.persist()
    try:
        totals = counts.agg(
            F.sum("cnt_a").alias("__na"), F.sum("cnt_b").alias("__nb"),
            F.sum(F.col("cnt_a") + F.col("cnt_b")).alias("__pool"))
        aw = alpha * (F.col("cnt_a") + F.col("cnt_b"))
        a0 = alpha * F.col("__pool")
        delta = (
            F.log((F.col("cnt_a") + aw)
                  / (F.col("__na") + a0 - F.col("cnt_a") - aw))
            - F.log((F.col("cnt_b") + aw)
                    / (F.col("__nb") + a0 - F.col("cnt_b") - aw))
        )
        var = 1.0 / (F.col("cnt_a") + aw) + 1.0 / (F.col("cnt_b") + aw)
        scored = counts.crossJoin(F.broadcast(totals)).withColumn(
            "z", delta / F.sqrt(var))
        wa = Window.orderBy(F.desc("z"), F.asc("w"))
        wb = Window.orderBy(F.asc("z"), F.asc("w"))
        top_a = (scored.withColumn("rank", F.row_number().over(wa))
                 .filter(F.col("rank") <= k).withColumn("side", F.lit("a")))
        top_b = (scored.withColumn("rank", F.row_number().over(wb))
                 .filter(F.col("rank") <= k).withColumn("side", F.lit("b")))
        out = top_a.unionByName(top_b).select(
            "side", "rank", F.col("w").alias("word"), "cnt_a", "cnt_b",
            _r6(F.col("z")).alias("z"))
        out = out.localCheckpoint(eager=True)
    finally:
        counts.unpersist()
    return out


def percentile_normalize(df: DataFrame, value_col: str,
                         by: str | None = None,
                         out_col: str = "pctl") -> DataFrame:
    """Per-key percentile normalization of a numeric column — the
    primitive behind cross-source quality-score blending: a raw score
    is only comparable across sources after mapping to its within-
    source percentile (sources have different score distributions).

    Adds ``out_col`` = (# rows in the key with a strictly smaller
    value) / (key row count) ∈ [0, 1): rank-transform with ties sharing
    one value (the strictly-less convention — deterministic, no
    tie-ordering dependence, exactly replayable in SQL).

    Scale shape — the repo's histogram-quantile pattern applied
    row-wise: NEVER a row-ordered window (a per-key percent_rank sorts
    every row of the key on one reducer); instead ONE distinct-VALUE
    histogram per key (bounded by value cardinality), a cumulative sum
    over that histogram, and a join back keyed on (key, value) — the
    only row-data shuffle is the equi-join on the value it already
    carries.

    NULLs: a NULL value is not part of its key's distribution (the
    counts cover non-NULL values only) and its row gets a NULL
    ``out_col``; NULL keys form one group of their own.  Every input
    row comes out exactly once.
    """
    keys = [by] if by else []
    hist = _value_histogram(df, keys, value_col)
    part = Window.partitionBy(*keys)
    below = part.orderBy(value_col).rowsBetween(Window.unboundedPreceding, -1)
    lookup = hist.select(
        *[F.col(k).alias("__key") for k in keys], F.col(value_col).alias("__v"),
        (F.coalesce(F.sum("__c").over(below), F.lit(0)) / F.sum("__c").over(part)).alias(out_col))
    on = F.col(value_col) == F.col("__v")
    if by:
        on = on & F.col(by).eqNullSafe(F.col("__key"))
    return df.join(lookup, on, "left").select(*_lead(df, [*keys, value_col]), out_col)


def _value_histogram(df: DataFrame, keys: list[str], value_col: str) -> DataFrame:
    """(keys, value, __c) row counts per distinct non-NULL value."""
    return (df.filter(F.col(value_col).isNotNull())
            .groupBy(*keys, value_col).agg(F.count(F.lit(1)).alias("__c")))


def _lead(df: DataFrame, lead: list[str]) -> list[str]:
    """df's columns with ``lead`` first — the order of an equi-join
    USING ``lead``."""
    return lead + [c for c in df.columns if c not in lead]


def winsorize(df: DataFrame, value_col: str, by: str | None = None,
              lo: float = 0.01, hi: float = 0.99,
              out_col: str | None = None) -> DataFrame:
    """Per-key winsorization (outlier clipping) at EXACT quantile
    thresholds — the trim pass before any moment statistic on crawl
    data (a handful of pathological documents otherwise own the mean).

    The thresholds are exact order statistics read off the distinct-
    VALUE cumulative histogram (smallest value whose cumulative count
    reaches ceil(q·n) — the key_skew/datacard convention), never a
    row sort; they join back broadcast (one row per key) and the clip
    itself is a map-only greatest/least.  Adds ``out_col`` (default
    ``{value_col}_w``) plus ``{value_col}_lo`` / ``{value_col}_hi``
    threshold columns for auditing.  Exact ⇒ fully SQL-replayable.

    NULLs: a NULL value is not part of its key's distribution and its
    row gets a NULL ``out_col``; NULL keys form one group of their own.
    Every input row comes out exactly once.
    """
    if not (0.0 <= lo < hi <= 1.0):
        raise ValueError("need 0 <= lo < hi <= 1")
    out_col = out_col or f"{value_col}_w"
    keys = [by] if by else []
    part = Window.partitionBy(*keys)
    cum = _value_histogram(df, keys, value_col).select(
        *keys, value_col,
        F.sum("__c").over(part.orderBy(value_col).rowsBetween(Window.unboundedPreceding, 0))
        .alias("__cum"),
        F.sum("__c").over(part).alias("__n"))
    th = cum.groupBy(*keys).agg(
        F.min(F.when(F.col("__cum") >= F.ceil(F.lit(lo) * F.col("__n")),
                     F.col(value_col))).alias(f"{value_col}_lo"),
        F.min(F.when(F.col("__cum") >= F.ceil(F.lit(hi) * F.col("__n")),
                     F.col(value_col))).alias(f"{value_col}_hi"),
    )
    if by:
        joined = df.join(F.broadcast(th.withColumnRenamed(by, "__key")),
                         F.col(by).eqNullSafe(F.col("__key")), "left").select(
            *_lead(df, [by]), f"{value_col}_lo", f"{value_col}_hi")
    else:
        joined = df.crossJoin(F.broadcast(th))
    # greatest/least skip NULL arguments, so a NULL value would clip to
    # the hi threshold without the explicit guard
    return joined.withColumn(
        out_col,
        F.when(F.col(value_col).isNotNull(),
               F.greatest(F.col(f"{value_col}_lo"),
                          F.least(F.col(f"{value_col}_hi"), F.col(value_col)))))
