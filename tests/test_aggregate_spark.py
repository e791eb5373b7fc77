"""Spark dataflow tests: partial build → tree merge → probe, grouped
builds with salting, parallelism invariance (SURVEY.md §5 level 4)."""

import numpy as np
import pytest

from pyspark.sql import functions as F

from presto_bloomfilter_spark import BloomFilter, CountMinSketch, HyperLogLog, KLLSketch, sketch_from_bytes
from presto_bloomfilter_spark.operators import aggregate as agg
from presto_bloomfilter_spark.operators.probe import bloom_semi_join, filter_by_sketch
from presto_bloomfilter_spark.sources.corpus import load_tokens


@pytest.fixture(scope="module")
def tokens(spark, sf_dir):
    return load_tokens(spark, sf_dir).cache()


def test_bloom_over_doc_ids(spark, tokens):
    n = tokens.count()
    bf = agg.aggregate_sketch(tokens, agg.sketch_spec(BloomFilter, "doc_id", "strings", 10_000, 0.01))
    ids = [r.doc_id for r in tokens.select("doc_id").collect()]
    assert bf.might_contain_strings(ids).all()  # no false negatives
    absent = [f"nope-{i}" for i in range(5000)]
    assert bf.might_contain_strings(absent).mean() <= 0.02
    assert bf.approx_items == n


def test_parallelism_invariance(spark, tokens):
    """Same sketch bytes at 1, 4, 13 partitions — the key invariant for
    a hand-built partial/merge protocol (SURVEY.md §7)."""
    spec = agg.sketch_spec(BloomFilter, "tokens", "tokens", 100_000, 0.01)
    digests = set()
    for parts in (1, 4, 13):
        bf = agg.aggregate_sketch(tokens.repartition(parts), spec, fan_in=4)
        digests.add(bf.sha256)
    assert len(digests) == 1


def test_hll_vs_exact_and_spark_builtin(spark, tokens):
    hll = agg.aggregate_sketch(tokens, agg.sketch_spec(HyperLogLog, "tokens", "tokens"))
    exact = tokens.select(F.explode("tokens").alias("t")).agg(
        F.countDistinct("t").alias("d")
    ).collect()[0].d
    assert abs(hll.estimate() - exact) / exact <= 0.03
    spark_est = tokens.select(F.explode("tokens").alias("t")).agg(
        F.approx_count_distinct("t").alias("d")
    ).collect()[0].d
    assert abs(hll.estimate() - spark_est) / exact <= 0.1


def test_cms_token_frequencies(spark, tokens):
    cms = agg.aggregate_sketch(tokens, agg.sketch_spec(CountMinSketch, "tokens", "tokens", eps=1e-4))
    top = (
        tokens.select(F.explode("tokens").alias("t"))
        .groupBy("t")
        .count()
        .orderBy(F.desc("count"))
        .limit(20)
        .collect()
    )
    toks = np.array([r.t for r in top])
    true = np.array([r["count"] for r in top])
    est = cms.estimate_ints(toks)
    assert (est >= true).all()
    assert (est <= true + cms.error_bound()).all()


def test_kll_ntok_quantiles(spark, tokens):
    kll = agg.aggregate_sketch(tokens, agg.sketch_spec(KLLSketch, "n_tok", "floats"))
    exact = tokens.approxQuantile("n_tok", [0.5], 0.0)[0]
    n = tokens.count()
    est = kll.quantile(0.5)
    ranks = tokens.filter(F.col("n_tok") <= est).count() / n
    assert abs(ranks - 0.5) <= 5 * kll.rank_error


def test_grouped_sketch_strategies_agree(spark, tokens):
    """map_side partials, plain grouped, and salted grouped must all
    produce byte-identical per-key HLLs (register-max merge is
    order-insensitive)."""
    spec = agg.sketch_spec(HyperLogLog, "tokens", "tokens")
    plain = {r[0]: sketch_from_bytes(r.sketch) for r in agg.grouped_sketch(tokens, "source", spec).collect()}
    grouped = {r[0]: sketch_from_bytes(r.sketch)
               for r in agg.grouped_sketch(tokens, "source", spec, strategy="salted").collect()}
    salted = {r[0]: sketch_from_bytes(r.sketch)
              for r in agg.grouped_sketch(tokens, "source", spec, salt=8, strategy="salted").collect()}
    assert set(plain) == set(salted) == set(grouped)
    for k in plain:
        assert plain[k] == salted[k] == grouped[k]
    # sanity vs exact per-group distinct
    exact = {
        r.source: r.d
        for r in tokens.select("source", F.explode("tokens").alias("t"))
        .groupBy("source")
        .agg(F.countDistinct("t").alias("d"))
        .collect()
    }
    for k, sk in plain.items():
        assert abs(sk.estimate() - exact[k]) / exact[k] <= 0.05


def test_merge_sketch_column(spark, tokens):
    per_source = agg.grouped_sketch(
        tokens, "source", agg.sketch_spec(BloomFilter, "tokens", "tokens", 100_000))
    merged = agg.merge_sketch_column(per_source, "sketch")
    direct = agg.aggregate_sketch(tokens, agg.sketch_spec(BloomFilter, "tokens", "tokens", 100_000))
    assert merged == direct  # union of per-group = global


def test_filter_by_sketch_and_semi_join(spark, tokens):
    sample_ids = [r.doc_id for r in tokens.select("doc_id").limit(50).collect()]
    bf = BloomFilter(1000, 0.001).add_strings(sample_ids)
    got = filter_by_sketch(spark, tokens, "doc_id", bf).select("doc_id").collect()
    got_ids = {r.doc_id for r in got}
    assert set(sample_ids) <= got_ids  # no FN
    assert len(got_ids) <= len(sample_ids) * 1.1

    build = spark.createDataFrame([(i,) for i in sample_ids], "doc_id string")
    exact = bloom_semi_join(spark, tokens, "doc_id", build, "doc_id", 10_000)
    assert {r.doc_id for r in exact.select("doc_id").collect()} == set(sample_ids)


def test_empty_input_yields_empty_sketch(spark, tokens):
    empty = tokens.filter(F.lit(False))
    bf = agg.aggregate_sketch(empty, agg.sketch_spec(BloomFilter, "doc_id", "strings", 1000))
    assert bf.bits_set == 0 and bf.approx_items == 0


def test_fused_parquet_scan_matches_dataframe_path(spark, sf_dir):
    """aggregate_sketch_from_parquet (pyarrow scan inside the worker)
    must produce byte-identical sketches to the DataFrame path."""
    from presto_bloomfilter_spark.sources.corpus import ensure_tokens_parquet

    path = ensure_tokens_parquet(sf_dir)
    spec = agg.sketch_spec(BloomFilter, "tokens", "tokens", 100_000, 0.01)
    via_df = agg.aggregate_sketch(load_tokens(spark, sf_dir), spec)
    via_fused = agg.aggregate_sketch_from_parquet(spark, path, spec, n_tasks=7)
    assert via_fused.sha256 == via_df.sha256


def test_token_family_fused_build(spark, sf_dir):
    """One scan builds bloom+CMS+HLL; estimates agree with exact."""
    from presto_bloomfilter_spark.sources.corpus import ensure_tokens_parquet

    path = ensure_tokens_parquet(sf_dir)
    fam = agg.aggregate_sketch_from_parquet(
        spark, path, agg.token_family_over_tokens("tokens"), n_tasks=5)
    bloom, cms, hll = fam.parts
    tokens = load_tokens(spark, sf_dir)
    exact = (
        tokens.select(F.explode("tokens").alias("t")).groupBy("t").count()
        .orderBy(F.desc("count")).limit(10).collect()
    )
    for r in exact:
        assert bloom.might_contain_ints([r.t])[0]
        est = int(cms.estimate_ints([r.t])[0])
        assert r["count"] <= est <= r["count"] * 1.01 + 10
    n_distinct = tokens.select(F.explode("tokens").alias("t")).agg(
        F.countDistinct("t").alias("d")).collect()[0].d
    assert abs(hll.estimate() - n_distinct) / n_distinct <= 0.03


def test_dedup_accumulator_range_fallback():
    """Ids wider than RANGE_CAP fall back to direct inserts mid-stream
    and still agree with a direct-built sketch."""
    rng = np.random.default_rng(7)
    small = rng.integers(0, 50_000, size=10_000)
    huge = rng.integers(0, 2**31 - 1, size=10_000)
    spec = agg.sketch_spec(BloomFilter, "tokens", "tokens", 100_000, 0.01)
    acc = spec.factory()
    acc.add_flat(small)
    acc.add_flat(huge)  # range blows past cap → flush + direct
    got = acc.finish()
    ref = BloomFilter(100_000, 0.01)
    ref.add_ints(small)
    ref.add_ints(huge)
    assert got.sha256 == ref.sha256


def test_multisketch_roundtrip_and_merge_invariance():
    from presto_bloomfilter_spark.functions.multi import MultiSketch

    rng = np.random.default_rng(11)
    a = rng.integers(0, 30_000, size=50_000)
    b = rng.integers(0, 30_000, size=50_000)
    spec = agg.token_family_over_tokens("tokens")

    whole = spec.factory(); whole.add_flat(np.concatenate([a, b]))
    whole = whole.finish()

    left = spec.factory(); left.add_flat(a)
    right = spec.factory(); right.add_flat(b)
    merged = left.finish().merge(right.finish())

    rt = sketch_from_bytes(merged.to_bytes())
    assert isinstance(rt, MultiSketch)
    # bloom bitsets identical; CMS tables identical (counts are exact sums)
    assert merged.parts[0].sha256 == whole.parts[0].sha256
    assert rt.parts[0].sha256 == whole.parts[0].sha256
    assert int(merged.parts[1].estimate_ints([int(a[0])])[0]) == int(
        whole.parts[1].estimate_ints([int(a[0])])[0])


def test_build_metrics_accumulators(spark, tokens):
    m = agg.BuildMetrics(spark)
    n = tokens.count()
    agg.aggregate_sketch(tokens.repartition(6),
                         agg.sketch_spec(BloomFilter, "tokens", "tokens", 100_000, 0.01),
                         fan_in=4, target_partials=6, metrics=m)
    d = m.as_dict()
    assert d["rows"] == n
    assert d["partial_sketches"] == 6
    # 6 partials -> 2 intermediate (fan_in 4) -> driver: total merges = 5
    assert d["merges"] == d["partial_sketches"] - 1
    assert d["batches"] >= d["partial_sketches"]


def test_grouped_fused_parquet_matches_dataframe_grouped(spark, sf_dir):
    from presto_bloomfilter_spark.sources.corpus import ensure_tokens_parquet

    path = ensure_tokens_parquet(sf_dir)
    spec = agg.sketch_spec(HyperLogLog, "tokens", "tokens")
    via_df = {
        r[0]: sketch_from_bytes(r.sketch).estimate()
        for r in agg.grouped_sketch(load_tokens(spark, sf_dir), "source", spec).collect()
    }
    via_fused = {
        r[0]: sketch_from_bytes(r.sketch).estimate()
        for r in agg.grouped_sketch_from_parquet(spark, path, "source", spec, n_tasks=6).collect()
    }
    # HLL merge is register-max: estimates are partitioning-invariant
    assert via_fused == via_df


def test_top_k_tokens_matches_exact_groupby(spark, tokens):
    """Two-phase heavy hitters must equal the full exact top-k,
    including under adversarial repartitioning, and with duplicate
    candidate flushes (direct fallback path exercised via tiny M)."""
    from pyspark.sql import Window

    exploded = tokens.select(F.explode("tokens").alias("token"))
    w = Window.orderBy(F.desc("cnt"), F.asc("token"))
    exact = (
        exploded.groupBy("token").agg(F.count("*").alias("cnt"))
        .withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 10)
        .select(F.col("token").cast("int"), "cnt").collect()
    )
    expected = [(r.token, r.cnt) for r in exact]
    for df in (tokens, tokens.repartition(11)):
        got = [(r.token, r.cnt) for r in agg.top_k_tokens(df, "tokens", k=10).collect()]
        got.sort(key=lambda t: (-t[1], t[0]))
        assert got == expected


def test_top_k_tokens_certification(spark, tokens):
    """certify=True proves the top-k in-band via the standard coverage
    bound (k-th exact count > sum of per-partition M-th local counts)
    and raises TopKNotCertified when the bound cannot certify — no
    silent coverage miss for library callers (ADVICE r02)."""
    certified = agg.top_k_tokens(tokens, "tokens", k=10, certify=True)
    uncertified = agg.top_k_tokens(tokens, "tokens", k=10)
    assert sorted((r.token, r.cnt) for r in certified.collect()) == \
        sorted((r.token, r.cnt) for r in uncertified.collect())
    # adversarially flat distribution + tiny M: every id ties, the
    # bound cannot separate candidates from non-candidates
    flat = spark.range(0, 20_000).selectExpr(
        "array(cast(id % 5000 as int)) as tokens").repartition(8)
    with pytest.raises(agg.TopKNotCertified, match="non-candidate bound"):
        agg.top_k_tokens(flat, "tokens", k=10, m_per_partition=12, certify=True)
    # the same flat corpus certifies once M covers the id space
    ok = agg.top_k_tokens(flat, "tokens", k=10, m_per_partition=5000, certify=True)
    assert ok.count() == 10


def test_top_k_tokens_certifies_when_distinct_below_k(spark):
    """A corpus with fewer than k distinct tokens is provably exact when
    no partition truncated (bound == 0) — certify must NOT raise just
    because len(result) < k."""
    small = spark.range(0, 1000).selectExpr(
        "array(cast(id % 7 as int)) as tokens").repartition(4)
    got = agg.top_k_tokens(small, "tokens", k=20, certify=True)
    rows = got.collect()
    assert len(rows) == 7
    assert {r.token for r in rows} == set(range(7))


def test_int_probe_nullable_and_beyond_2pow53(spark):
    """Regression: a NULL in a probe batch makes Arrow→pandas deliver
    float64, silently corrupting ids above 2^53 (false negatives) and
    NaN-hashing NULLs.  The int probe path now round-trips through a
    lossless string cast: big ids probe exactly, NULLs probe False."""
    from presto_bloomfilter_spark.operators.probe import bloom_semi_join, filter_by_sketch

    big_a, big_b = 9007199254740993, 9007199254740995  # 2^53+1, 2^53+3
    build = spark.createDataFrame([(big_a,), (5,)], "k bigint")
    probe = spark.createDataFrame(
        [(big_a,), (big_b,), (None,), (5,)], "k bigint").coalesce(1)
    out = bloom_semi_join(spark, probe, "k", build, "k",
                          expected_insertions=1000, exact=True)
    assert {r.k for r in out.collect()} == {big_a, 5}
    # direct filter path: NULL rows must drop, the adjacent big id must
    # NOT collide with the inserted one via float rounding
    sk = agg.aggregate_sketch(
        build, agg.sketch_spec(BloomFilter, "k", "ints", 1000, 0.0001))
    kept = {r.k for r in filter_by_sketch(spark, probe, "k", sk, ints=True).collect()}
    assert big_a in kept and 5 in kept and None not in kept
    assert big_b not in kept  # float64 would have rounded both to 2^53+2


def test_hash_ints64_rejects_float_arrays():
    import numpy as np
    import pytest as _pytest

    from presto_bloomfilter_spark.functions.hashing import hash_ints64

    with _pytest.raises(ValueError, match="floating"):
        hash_ints64(np.array([1.0, np.nan]))


def test_bloom_over_ints_ignores_nulls(spark):
    """Nulls in an int column are ignored like add_strings ignores
    None — previously the Arrow→numpy float conversion crashed the
    whole build via the hash_ints64 float guard."""
    df = spark.createDataFrame([(1,), (None,), (3,)], "k bigint").coalesce(1)
    sk = agg.aggregate_sketch(df, agg.sketch_spec(BloomFilter, "k", "ints", 1000, 0.01))
    assert sk.might_contain(1) and sk.might_contain(3)


def test_grouped_sketch_null_keys_both_strategies(spark):
    """A NULL group key must neither crash the map_side Arrow split
    (np.unique can't sort None vs str) nor diverge between strategies:
    both emit a NULL-keyed row covering the null group's values."""
    df = spark.createDataFrame(
        [("a", "x1"), (None, "x2"), ("a", "x3"), (None, "x4")],
        "g string, v string").coalesce(1)
    for strategy, kw in (("map_side", {}), ("salted", {"salt": 2})):
        out = {r["g"]: r["sketch"] for r in agg.grouped_sketch(
            df, "g", agg.sketch_spec(HyperLogLog, "v", "strings"), strategy=strategy, **kw).collect()}
        assert set(out) == {"a", None}, (strategy, set(out))
        from presto_bloomfilter_spark.functions.serialization import sketch_from_bytes
        assert round(sketch_from_bytes(out[None]).estimate()) == 2, strategy


def test_grouped_sketch_salted_int_key(spark):
    """Non-string group keys through the salted path: the declared
    '{key} string' schema previously made pyarrow refuse the int→string
    conversion."""
    df = spark.createDataFrame(
        [(2021, "a"), (2021, "b"), (2022, "c")], "year int, v string")
    out = {r["year"]: r["sketch"] for r in agg.grouped_sketch(
        df, "year", agg.sketch_spec(HyperLogLog, "v", "strings"), strategy="salted", salt=2).collect()}
    assert set(out) == {"2021", "2022"}


def test_grouped_from_parquet_rejects_diverging_key_types(spark, tmp_path):
    """The fused parquet dataflow labels keys with Python str(); for
    double/boolean keys that diverges from grouped_sketch's JVM
    cast-to-string, so it must refuse rather than silently emit
    mismatched labels."""
    p = str(tmp_path / "dbl")
    spark.createDataFrame(
        [(1e-07, "a"), (0.5, "b")], "k double, v string").write.parquet(p)
    import pytest as _pytest
    with _pytest.raises(ValueError, match="cast-to-string"):
        agg.grouped_sketch_from_parquet(spark, p + "/" +
                                        next(f for f in __import__("os").listdir(p)
                                             if f.endswith(".parquet")),
                                        "k", agg.sketch_spec(HyperLogLog, "v", "strings"))


def test_grouped_sketch_key_labels_agree_across_strategies(spark):
    """Double/boolean group keys stringify identically through both
    strategies (one JVM cast-to-string for both) — previously map_side
    used Python str() ('1e-07', 'True') while salted used Spark's cast
    ('1.0E-7', 'true')."""
    df = spark.createDataFrame(
        [(1e-07, "a"), (1e-07, "b"), (0.5, "c"), (1e-07, "d")],
        "k double, v string")
    bools = spark.createDataFrame(
        [(True, "a"), (False, "b")], "k boolean, v string")
    for frame in (df, bools):
        spec = agg.sketch_spec(HyperLogLog, "v", "strings")
        m = {r["k"] for r in agg.grouped_sketch(frame, "k", spec).collect()}
        s = {r["k"] for r in agg.grouped_sketch(
            frame, "k", spec, strategy="salted", salt=2).collect()}
        assert m == s, (m, s)
