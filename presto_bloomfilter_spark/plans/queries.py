"""The query repertoire: every operator exposed as a (spark, sf_dir) →
DataFrame callable plus, where ANSI-SQL-expressible, a DuckDB oracle.

Design rules for oracle parity (driver compares row count + schema +
order-insensitive value hash):

- identical column aliases on both sides;
- integers/booleans/strings preferred over floats in outputs; the only
  float outputs are single-division ratios computed from identical
  integer operands (bit-exact in IEEE 754 on both engines);
- sketch estimates are asserted as booleans ("within published bound")
  rather than emitted as floats — the oracle returns TRUE, the Spark
  side computes the bound check against the exact value;
- probabilistic structures only appear where semantics make results
  exact: bloom pre-filter + exact verify ≡ exact semi join; LSH
  candidates + exact-Jaccard verify ≡ threshold pairs (recall checked
  in tests).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from presto_bloomfilter_spark import (
    BloomFilter, CountMinSketch, CountSketch, CountingBloomFilter, DDSketch, ExactGram,
    FrequentDirections, HyperLogLog, KLLSketch, MomentsSketch, TDigest, ThetaSketch)
from presto_bloomfilter_spark.functions.serialization import sketch_from_bytes
from presto_bloomfilter_spark.operators import aggregate as agg
from presto_bloomfilter_spark.operators import (
    classifier, contamination, dedup, multimodal, packing, ranking, sampling,
    selection, similarity, text,
)
from presto_bloomfilter_spark.operators.probe import bloom_semi_join, contains_udf
from presto_bloomfilter_spark.sources.corpus import load_tokens, tokens_parquet_path
from presto_bloomfilter_spark.sources.tables import load_table

# oracle runs at sf0.01 only — the deterministic tokens parquet path
# The oracle SQL strings are static (oracle_sql() takes no sf), so the
# tokens-corpus path they read must be pinned at import: sf0.01, the
# driver's gate scale, overridable via PBS_GATE_SF_DIR so an
# off-default run (tools/check_correctness.py honors the same var)
# compares both engines over the SAME corpus
_TOKENS_SQL = (
    f"read_parquet('{tokens_parquet_path(os.environ.get('PBS_GATE_SF_DIR', '/root/testdata/sf0.01'))}')"
)

_STOPWORD_SQL = "('the','a','of','and','to')"


# ======================= sketch queries (SURVEY §2.1) =========================


def q_bloom_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference README.md:8-38 flagship: bloom pre-filter replaces the
    join's scan-side shuffle; exact verify removes false positives."""
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    big = orders.filter(F.col("o_totalprice") > 300_000).select("o_orderkey")
    filtered = bloom_semi_join(spark, lineitem, "l_orderkey", big, "o_orderkey",
                               50_000, 0.001)
    return filtered.groupBy("l_returnflag").agg(
        F.count("*").alias("cnt"),
        F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
    )


ORACLE_BLOOM_SEMIJOIN = """
SELECT l_returnflag, COUNT(*) AS cnt, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
FROM lineitem
WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_totalprice > 300000)
GROUP BY l_returnflag
"""


def q_sbbf_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship semi-join shape on the split-block (Parquet-style
    blocked) filter, functions/sbbf.py: one-cache-line probes, exact
    Poisson-blocked FPR sizing.  Same exact-verify semantics → same
    oracle as bloom_semijoin."""
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    big = orders.filter(F.col("o_totalprice") > 300_000).select("o_orderkey")
    filtered = bloom_semi_join(spark, lineitem, "l_orderkey", big, "o_orderkey",
                               50_000, 0.001,
                               kind="sbbf")
    return filtered.groupBy("l_returnflag").agg(
        F.count("*").alias("cnt"),
        F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
    )


ORACLE_SBBF_SEMIJOIN = ORACLE_BLOOM_SEMIJOIN


def q_xor_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The semi-join shape on the STATIC xor filter (functions/xorf.py,
    Graf & Lemire JEA 2020 — ~9.84 bits/key, 3-load probes, built by
    one-task hypergraph peeling over the frozen build-key set via
    operators/staticfilter.py).  Exact verify removes the ~2^-8 false
    positives, so the result equals the exact semi join — the oracle."""
    from presto_bloomfilter_spark.operators.staticfilter import xor_semi_join

    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    big = orders.filter(F.col("o_totalprice") > 280_000).select("o_orderkey")
    filtered = xor_semi_join(spark, lineitem, "l_orderkey", big, "o_orderkey")
    return filtered.groupBy("l_returnflag").agg(
        F.count("*").alias("cnt"),
        F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
    )


ORACLE_XOR_SEMIJOIN = """
SELECT l_returnflag, COUNT(*) AS cnt, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
FROM lineitem
WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_totalprice > 280000)
GROUP BY l_returnflag
"""


def q_cbf_delete_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Membership maintenance with DELETION (functions/cbf.py): build a
    counting bloom over the >250k order keys, then RETRACT the 'F'
    orders by aggregating a second filter over the delete keys and
    subtracting it — two distributed builds, zero per-key driver work.
    The semi-join then probes the net filter; exact verify against the
    live key set removes false positives, so the result equals the
    exact semi join on (inserted minus deleted) — which is the oracle."""
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    big = F.col("o_totalprice") > 250_000
    ins = orders.filter(big).select("o_orderkey")
    dels = orders.filter(big & (F.col("o_orderstatus") == "F")).select("o_orderkey")
    sk = agg.aggregate_sketch(ins, agg.sketch_spec(CountingBloomFilter, "o_orderkey", "ints", 50_000, 0.001))
    sk.subtract(
        agg.aggregate_sketch(dels, agg.sketch_spec(CountingBloomFilter, "o_orderkey", "ints", 50_000, 0.001)))
    pre = lineitem.filter(contains_udf(spark, sk, ints=True)(F.col("l_orderkey")))
    live = (orders.filter(big & (F.col("o_orderstatus") != "F"))
            .select(F.col("o_orderkey").alias("l_orderkey")).distinct())
    filtered = pre.join(F.broadcast(live), "l_orderkey", "left_semi")
    return filtered.groupBy("l_returnflag").agg(
        F.count("*").alias("cnt"),
        F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
    )


ORACLE_CBF_DELETE_SEMIJOIN = """
SELECT l_returnflag, COUNT(*) AS cnt, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
FROM lineitem
WHERE l_orderkey IN (SELECT o_orderkey FROM orders
                     WHERE o_totalprice > 250000 AND o_orderstatus <> 'F')
GROUP BY l_returnflag
"""


def q_sharded_bloom_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bloom_semijoin at the 10^12-key posture: the membership state is
    a FAMILY of hash-sharded filters (operators/sharded.py) — built in
    one grouped job, persisted one object per shard, probed
    shard-locally (each task loads exactly one filter) — because a
    single filter at n=10^12 would be a ~1.5 TB bitset no executor
    could hold.  Same exact-verify semantics, same oracle as
    bloom_semijoin."""
    import tempfile

    from presto_bloomfilter_spark.operators.sharded import sharded_bloom_semi_join

    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    big = orders.filter(F.col("o_totalprice") > 300_000).select("o_orderkey")
    filtered = sharded_bloom_semi_join(
        spark, lineitem, "l_orderkey", big, "o_orderkey",
        store_root=tempfile.mkdtemp(prefix="pbs_shard_"),
        shards=8, expected_insertions_per_shard=10_000, fpp=0.001,
    )
    return filtered.groupBy("l_returnflag").agg(
        F.count("*").alias("cnt"),
        F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
    )


ORACLE_SHARDED_BLOOM_SEMIJOIN = ORACLE_BLOOM_SEMIJOIN


def q_sql_surface_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's SQL use-site shape (reference README.md:21-29:
    build a filter over a key set, probe with bloom_filter_contains in a
    WHERE clause) executed as spark.sql TEXT through the registered
    scalar surface: the bloom aggregation runs via the Python API and
    is published as a one-row view; the probe + exact verify + agg run
    entirely as SQL.  (The aggregation itself is ALSO SQL-registrable —
    see sql_bloom_agg_e2e, which runs the whole shape as one SQL text;
    this gate keeps the hybrid hand-off covered.)"""
    from presto_bloomfilter_spark import compat

    compat.register_sql_functions(spark)
    orders = load_table(spark, sf_dir, "orders")
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("pbs_lineitem")
    orders.createOrReplaceTempView("pbs_orders")
    keys = orders.filter(F.col("o_totalprice") > 300_000).select(
        F.col("o_orderkey").cast("string").alias("k")
    )
    bf = agg.aggregate_sketch(keys, agg.sketch_spec(BloomFilter, "k", "strings", 50_000, 0.001))
    compat.publish_sketch_view(spark, bf, "pbs_bloom")
    return spark.sql(
        """
        WITH pre AS (
          SELECT * FROM pbs_lineitem
          WHERE bloom_filter_contains((SELECT bf FROM pbs_bloom),
                                      CAST(l_orderkey AS STRING))
        )
        SELECT l_returnflag, COUNT(*) AS cnt,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        FROM pre
        WHERE l_orderkey IN (SELECT o_orderkey FROM pbs_orders
                             WHERE o_totalprice > 300000)
        GROUP BY l_returnflag
        """
    )


ORACLE_SQL_SURFACE_CTE = ORACLE_BLOOM_SEMIJOIN


def q_bloom_member_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bloom_filter(el) + bloom_filter_contains parity: every inserted
    member must probe true (no false negatives)."""
    nation = load_table(spark, sf_dir, "nation")
    bf = agg.aggregate_sketch(nation, agg.sketch_spec(BloomFilter, "n_name", "strings", 1000, 0.01))
    probed = nation.withColumn("hit", contains_udf(spark, bf)(F.col("n_name")))
    return probed.agg(
        F.count("*").alias("n_members"),
        F.sum(F.col("hit").cast("long")).alias("n_contained"),
    )


ORACLE_BLOOM_MEMBER_RECALL = """
SELECT COUNT(*) AS n_members, COUNT(*) AS n_contained FROM nation
"""


def q_bloom_merge_prebuilt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bloom_filter(bf) merge-of-prebuilt-filters parity (reference
    BloomFilterFromString.java:23-38): per-source blooms built grouped,
    merged into one, which must contain every doc_id."""
    tokens = load_tokens(spark, sf_dir)
    per_source = agg.grouped_sketch(
        tokens, "source", agg.sketch_spec(BloomFilter, "doc_id", "strings", 200_000, 0.001))
    merged = agg.merge_sketch_column(per_source, "sketch")
    probed = tokens.withColumn("hit", contains_udf(spark, merged)(F.col("doc_id")))
    return probed.agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("hit").cast("long")).alias("n_contained"),
    )


ORACLE_BLOOM_MERGE_PREBUILT = f"""
SELECT COUNT(*) AS n_docs, COUNT(*) AS n_contained FROM {_TOKENS_SQL}
"""


def q_hll_docs_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    tokens = load_tokens(spark, sf_dir)
    per_src = agg.grouped_sketch(tokens, "source", agg.sketch_spec(HyperLogLog, "doc_id", "strings"))
    ests = [(r[0], float(sketch_from_bytes(r.sketch).estimate())) for r in per_src.collect()]
    lit = spark.createDataFrame(ests, "source string, est double")
    exact = tokens.groupBy("source").agg(F.countDistinct("doc_id").alias("n_docs"))
    return exact.join(F.broadcast(lit), "source").select(
        "source",
        "n_docs",
        (F.abs(F.col("est") - F.col("n_docs")) / F.col("n_docs") <= F.lit(0.025)).alias("hll_ok"),
    )


ORACLE_HLL_DOCS_BY_SOURCE = f"""
SELECT source, COUNT(DISTINCT doc_id) AS n_docs, TRUE AS hll_ok
FROM {_TOKENS_SQL} GROUP BY source
"""


def q_hll_docs_by_source_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same result as hll_docs_by_source through the SALTED grouped
    strategy (north_rule: explicit salting/repartitioning for skewed
    sources): rows group by (source, salt) first, per-key partials
    merge second — no task ever owns all of the 55%-skewed 'web' key."""
    tokens = load_tokens(spark, sf_dir)
    per_src = agg.grouped_sketch(tokens, "source", agg.sketch_spec(HyperLogLog, "doc_id", "strings"),
                                 strategy="salted", salt=8)
    ests = [(r[0], float(sketch_from_bytes(r.sketch).estimate())) for r in per_src.collect()]
    lit = spark.createDataFrame(ests, "source string, est double")
    exact = tokens.groupBy("source").agg(F.countDistinct("doc_id").alias("n_docs"))
    return exact.join(F.broadcast(lit), "source").select(
        "source",
        "n_docs",
        (F.abs(F.col("est") - F.col("n_docs")) / F.col("n_docs") <= F.lit(0.025)).alias("hll_ok"),
    )


ORACLE_HLL_DOCS_BY_SOURCE_SALTED = ORACLE_HLL_DOCS_BY_SOURCE


def q_hll_tokens_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct token ids per (skewed) source — map-side partial build:
    skew costs nothing because a task only sees its own partition's
    share of the hot key (web ≈ 55%)."""
    tokens = load_tokens(spark, sf_dir)
    per_src = agg.grouped_sketch(tokens, "source", agg.sketch_spec(HyperLogLog, "tokens", "tokens"))
    ests = [(r[0], float(sketch_from_bytes(r.sketch).estimate())) for r in per_src.collect()]
    lit = spark.createDataFrame(ests, "source string, est double")
    exact = (
        tokens.select("source", F.explode("tokens").alias("tok"))
        .groupBy("source")
        .agg(F.countDistinct("tok").alias("n_distinct_tokens"))
    )
    return exact.join(F.broadcast(lit), "source").select(
        "source",
        "n_distinct_tokens",
        (F.abs(F.col("est") - F.col("n_distinct_tokens")) / F.col("n_distinct_tokens") <= F.lit(0.025)).alias("hll_ok"),
    )


ORACLE_HLL_TOKENS_BY_SOURCE = f"""
SELECT source, COUNT(DISTINCT tok) AS n_distinct_tokens, TRUE AS hll_ok
FROM (SELECT source, UNNEST(tokens) AS tok FROM {_TOKENS_SQL})
GROUP BY source
"""


def q_hll_tokens_by_source_fused(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same result as hll_tokens_by_source through the FUSED grouped
    scan (grouped_sketch_from_parquet): pyarrow row-group shards inside
    the Python workers, per-(shard, key) partials, blob-only grouped
    merge — raw token rows never cross a process boundary."""
    tokens = load_tokens(spark, sf_dir)
    per_src = agg.grouped_sketch_from_parquet(
        spark, tokens_parquet_path(sf_dir), "source", agg.sketch_spec(HyperLogLog, "tokens", "tokens"),
        n_tasks=8)
    ests = [(r[0], float(sketch_from_bytes(r.sketch).estimate())) for r in per_src.collect()]
    lit = spark.createDataFrame(ests, "source string, est double")
    exact = (
        tokens.select("source", F.explode("tokens").alias("tok"))
        .groupBy("source")
        .agg(F.countDistinct("tok").alias("n_distinct_tokens"))
    )
    return exact.join(F.broadcast(lit), "source").select(
        "source",
        "n_distinct_tokens",
        (F.abs(F.col("est") - F.col("n_distinct_tokens")) / F.col("n_distinct_tokens") <= F.lit(0.025)).alias("hll_ok"),
    )


ORACLE_HLL_TOKENS_BY_SOURCE_FUSED = ORACLE_HLL_TOKENS_BY_SOURCE


def q_hll_token_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL set operations: distinct-token overlap between the 'web' and
    'books' sources by inclusion-exclusion over the SAME per-source
    sketches the grouped build produces — no re-scan, no exact join at
    sketch time.  Asserted within the additive 3-sigma envelope
    (rel_err * (|A|+|B|+|A∪B|)) against the exact intersection."""
    from presto_bloomfilter_spark.functions.hll import (
        intersection_estimate,
        union_estimate,
    )

    tokens = load_tokens(spark, sf_dir)
    per_src = agg.grouped_sketch(tokens, "source", agg.sketch_spec(HyperLogLog, "tokens", "tokens"))
    sk = {r[0]: sketch_from_bytes(r.sketch) for r in per_src.collect()}
    a, b = sk["web"], sk["books"]
    est = intersection_estimate(a, b)
    bound = 3.0 * a.relative_error * (a.estimate() + b.estimate() + union_estimate(a, b))
    webs = tokens.filter(F.col("source") == "web").select(F.explode("tokens").alias("t")).distinct()
    books = tokens.filter(F.col("source") == "books").select(F.explode("tokens").alias("t")).distinct()
    exact = webs.join(books, "t")
    return exact.agg(
        F.count("*").alias("n_overlap"),
        (F.abs(F.lit(est) - F.count("*")) <= F.lit(bound)).alias("hll_ok"),
    )


ORACLE_HLL_TOKEN_OVERLAP = f"""
SELECT COUNT(*) AS n_overlap, TRUE AS hll_ok FROM (
  SELECT tok FROM (SELECT DISTINCT UNNEST(tokens) AS tok FROM {_TOKENS_SQL} WHERE source = 'web')
  INTERSECT
  SELECT tok FROM (SELECT DISTINCT UNNEST(tokens) AS tok FROM {_TOKENS_SQL} WHERE source = 'books')
)
"""


def q_theta_token_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same overlap as hll_token_overlap through the THETA (KMV) sketch,
    whose intersection error scales with the intersection SAMPLE rather
    than the union sizes — the accurate-set-operations sibling
    (functions/theta.py).  Asserted within 10% of the exact overlap
    (3-sigma of ~k*J common samples; measured ~2% on this data)."""
    tokens = load_tokens(spark, sf_dir)
    per_src = agg.grouped_sketch(tokens, "source", agg.sketch_spec(ThetaSketch, "tokens", "tokens"))
    sk = {r[0]: sketch_from_bytes(r.sketch) for r in per_src.collect()}
    est = sk["web"].intersection_estimate(sk["books"])
    webs = tokens.filter(F.col("source") == "web").select(F.explode("tokens").alias("t")).distinct()
    books = tokens.filter(F.col("source") == "books").select(F.explode("tokens").alias("t")).distinct()
    exact = webs.join(books, "t")
    return exact.agg(
        F.count("*").alias("n_overlap"),
        (F.abs(F.lit(est) - F.count("*")) <= 0.1 * F.count("*")).alias("theta_ok"),
    )


ORACLE_THETA_TOKEN_OVERLAP = f"""
SELECT COUNT(*) AS n_overlap, TRUE AS theta_ok FROM (
  SELECT tok FROM (SELECT DISTINCT UNNEST(tokens) AS tok FROM {_TOKENS_SQL} WHERE source = 'web')
  INTERSECT
  SELECT tok FROM (SELECT DISTINCT UNNEST(tokens) AS tok FROM {_TOKENS_SQL} WHERE source = 'books')
)
"""


def q_theta_set_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The remaining theta (KMV) set operations beyond intersection:
    difference (web-only tokens, A\\B) and Jaccard similarity — the
    estimates unions/intersections alone can't give (functions/theta.py
    difference_estimate/jaccard_estimate).  Both asserted within 10% of
    exact (same 3-sigma-of-common-samples argument as the overlap gate;
    measured ~2-3% on this data)."""
    tokens = load_tokens(spark, sf_dir)
    per_src = agg.grouped_sketch(tokens, "source", agg.sketch_spec(ThetaSketch, "tokens", "tokens"))
    sk = {r[0]: sketch_from_bytes(r.sketch) for r in per_src.collect()}
    d_est = sk["web"].difference_estimate(sk["books"])
    j_est = sk["web"].jaccard_estimate(sk["books"])
    webs = tokens.filter(F.col("source") == "web").select(F.explode("tokens").alias("t")).distinct()
    books = tokens.filter(F.col("source") == "books").select(F.explode("tokens").alias("t")).distinct()
    n_web_only = webs.join(books, "t", "left_anti").count()
    n_inter = webs.join(books, "t").count()
    n_union = webs.count() + books.count() - n_inter
    j_exact = n_inter / n_union
    return spark.createDataFrame(
        [(n_web_only,
          bool(abs(d_est - n_web_only) <= 0.1 * n_web_only),
          bool(abs(j_est - j_exact) <= 0.1 * j_exact))],
        "n_web_only long, diff_ok boolean, jaccard_ok boolean",
    )


ORACLE_THETA_SET_ALGEBRA = f"""
SELECT COUNT(*) AS n_web_only, TRUE AS diff_ok, TRUE AS jaccard_ok FROM (
  SELECT tok FROM (SELECT DISTINCT UNNEST(tokens) AS tok FROM {_TOKENS_SQL} WHERE source = 'web')
  EXCEPT
  SELECT tok FROM (SELECT DISTINCT UNNEST(tokens) AS tok FROM {_TOKENS_SQL} WHERE source = 'books')
)
"""


def q_cms_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CMS frequency estimates for the exact top-20 tokens: never
    underestimates, within eps*N above."""
    import numpy as np

    tokens = load_tokens(spark, sf_dir)
    cms = agg.aggregate_sketch(tokens, agg.sketch_spec(CountMinSketch, "tokens", "tokens", eps=1e-4))
    w = Window.orderBy(F.desc("cnt"), F.asc("token"))
    top = (
        tokens.select(F.explode("tokens").alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .select("token", "cnt")
        .collect()
    )
    toks = np.array([r.token for r in top])
    cnts = np.array([r.cnt for r in top])
    est = cms.estimate_ints(toks)
    ok = (est >= cnts) & (est <= cnts + cms.error_bound())
    return spark.createDataFrame(
        [(int(t), int(c), bool(o)) for t, c, o in zip(toks, cnts, ok)],
        "token int, cnt long, cms_ok boolean",
    )


ORACLE_CMS_TOP_TOKENS = f"""
SELECT token, cnt, TRUE AS cms_ok FROM (
  SELECT tok AS token, COUNT(*) AS cnt,
         ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, tok ASC) AS rn
  FROM (SELECT UNNEST(tokens) AS tok FROM {_TOKENS_SQL})
  GROUP BY tok
) WHERE rn <= 20
"""


def q_top_k_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase heavy hitters (operators/aggregate.py:top_k_tokens):
    per-partition exact local top-M candidates (map-only), then an
    exact hash-agg restricted to candidates — compared value-for-value
    against the full exact top-20, so candidate coverage is VERIFIED
    on every run, not assumed."""
    tokens = load_tokens(spark, sf_dir)
    return agg.top_k_tokens(tokens, "tokens", k=20)


ORACLE_TOP_K_TOKENS = f"""
SELECT token, cnt FROM (
  SELECT tok AS token, COUNT(*) AS cnt,
         ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, tok ASC) AS rn
  FROM (SELECT UNNEST(tokens) AS tok FROM {_TOKENS_SQL})
  GROUP BY tok
) WHERE rn <= 20
"""


def q_mg_top_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-20 document words via the Misra-Gries sketch path
    (operators/aggregate.py:mg_top_k): one tree-merged k_counters=4096
    summary (map-only, O(k_counters) state per partition — the PODS'12
    deterministic n/(k+1) undercount bound), then an exact hash-agg
    restricted to the retained candidates, certified in-band (raises
    unless the 20th exact count beats the bound).  Word semantics =
    repo-wide str.split()."""
    from presto_bloomfilter_spark.operators.contamination import split_words

    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(F.explode(split_words("text")).alias("word"))
    return agg.mg_top_k(words, "word", k=20, k_counters=4096)


def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source winsorization of n_chars at exact p05/p95 histogram
    thresholds (operators/stats.py:winsorize) — FULL value oracle:
    DuckDB replays the cumulative-histogram order statistics and the
    per-row clip."""
    from presto_bloomfilter_spark.operators import stats as _stats

    docs = load_table(spark, sf_dir, "documents")
    out = _stats.winsorize(docs.select("doc_id", "source", "n_chars"),
                           "n_chars", by="source", lo=0.05, hi=0.95)
    return out.select(F.col("doc_id").cast("string").alias("id"), "source",
                      "n_chars", "n_chars_lo", "n_chars_hi", "n_chars_w")


ORACLE_WINSORIZE = """
WITH h AS (
  SELECT source, n_chars, COUNT(*) AS c FROM documents GROUP BY source, n_chars
),
cum AS (
  SELECT source, n_chars,
         SUM(c) OVER (PARTITION BY source ORDER BY n_chars
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm
  FROM h
),
t AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
th AS (
  SELECT cum.source,
         MIN(CASE WHEN cm >= ceil(0.05 * t.n) THEN n_chars END) AS n_chars_lo,
         MIN(CASE WHEN cm >= ceil(0.95 * t.n) THEN n_chars END) AS n_chars_hi
  FROM cum JOIN t ON cum.source = t.source
  GROUP BY cum.source
)
SELECT CAST(d.doc_id AS VARCHAR) AS id, d.source, d.n_chars,
       th.n_chars_lo, th.n_chars_hi,
       GREATEST(th.n_chars_lo, LEAST(th.n_chars_hi, d.n_chars)) AS n_chars_w
FROM documents d JOIN th ON d.source = th.source
"""


def q_percentile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source percentile normalization of n_chars over documents
    (operators/stats.py:percentile_normalize — the histogram-join
    pattern, never a row-ordered window).  FULL value oracle: DuckDB
    replays the strictly-less cumulative histogram and the single
    division for every row."""
    from presto_bloomfilter_spark.operators import stats as _stats

    docs = load_table(spark, sf_dir, "documents")
    out = _stats.percentile_normalize(
        docs.select("doc_id", "source", "n_chars"), "n_chars", by="source")
    return out.select(F.col("doc_id").cast("string").alias("id"),
                      "source", "n_chars", "pctl")


ORACLE_PERCENTILE_NORMALIZE = """
WITH h AS (
  SELECT source, n_chars, COUNT(*) AS c FROM documents GROUP BY source, n_chars
),
cum AS (
  SELECT source, n_chars,
         COALESCE(SUM(c) OVER (PARTITION BY source ORDER BY n_chars
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING), 0) AS lt
  FROM h
),
t AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source)
SELECT CAST(d.doc_id AS VARCHAR) AS id, d.source, d.n_chars,
       CAST(cum.lt AS DOUBLE) / t.n AS pctl
FROM documents d
JOIN cum ON d.source = cum.source AND d.n_chars = cum.n_chars
JOIN t ON d.source = t.source
"""


def q_log_odds_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fightin'-Words keyword divergence between src0 and src1
    (operators/stats.py:log_odds_keywords) — FULL value oracle: DuckDB
    replays the Dirichlet-smoothed log-odds z-scores, both top-15
    rankings with the word tie-break, at 6-decimal parity."""
    from presto_bloomfilter_spark.operators import stats as _stats

    docs = load_table(spark, sf_dir, "documents")
    return _stats.log_odds_keywords(docs, "src0", "src1", k=15)


ORACLE_LOG_ODDS_KEYWORDS = r"""
WITH t AS (
  SELECT CASE WHEN source = 'src0' THEN 'a' ELSE 'b' END AS side,
         UNNEST(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS w
  FROM documents WHERE source IN ('src0', 'src1')
),
c AS (
  SELECT w,
         CAST(SUM(CASE WHEN side = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS cnt_a,
         CAST(SUM(CASE WHEN side = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS cnt_b
  FROM t GROUP BY w
),
tot AS (
  SELECT CAST(SUM(cnt_a) AS BIGINT) AS na, CAST(SUM(cnt_b) AS BIGINT) AS nb,
         CAST(SUM(cnt_a + cnt_b) AS BIGINT) AS pool
  FROM c
),
s AS (
  SELECT w, cnt_a, cnt_b,
         (ln((cnt_a + 0.01 * (cnt_a + cnt_b))
             / (na + 0.01 * pool - cnt_a - 0.01 * (cnt_a + cnt_b)))
          - ln((cnt_b + 0.01 * (cnt_a + cnt_b))
               / (nb + 0.01 * pool - cnt_b - 0.01 * (cnt_a + cnt_b))))
         / sqrt(1.0 / (cnt_a + 0.01 * (cnt_a + cnt_b))
                + 1.0 / (cnt_b + 0.01 * (cnt_a + cnt_b))) AS z
  FROM c, tot
),
ra AS (SELECT *, ROW_NUMBER() OVER (ORDER BY z DESC, w ASC) AS rank FROM s),
rb AS (SELECT *, ROW_NUMBER() OVER (ORDER BY z ASC, w ASC) AS rank FROM s)
SELECT 'a' AS side, CAST(rank AS INTEGER) AS rank, w AS word,
       cnt_a, cnt_b, round(z, 6) + 0.0 AS z
FROM ra WHERE rank <= 15
UNION ALL
SELECT 'b' AS side, CAST(rank AS INTEGER) AS rank, w AS word,
       cnt_a, cnt_b, round(z, 6) + 0.0 AS z
FROM rb WHERE rank <= 15
"""


def q_domain_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-blocklist crawl filter (operators/web.py:
    filter_blocked_domains) over in-band URLs: doc_id%4 selects the
    host — Sub.EXAMPLE.com and deep.a.example.com:8080 are parent-
    domain matches of the blocklist entry example.com (dropped),
    example.community and good.org survive (no dot-suffix match).
    FULL value oracle: DuckDB replays host extraction, the dot-suffix
    chain, and the anti join."""
    from presto_bloomfilter_spark.operators import web as _web

    d = load_table(spark, sf_dir, "documents")
    g = F.col("doc_id").cast("string")
    v = F.col("doc_id") % 4
    url = (F.when(v == 0, F.concat(F.lit("http://Sub.EXAMPLE.com/p/"), g))
           .when(v == 1, F.concat(F.lit("http://example.community/x/"), g))
           .when(v == 2, F.concat(F.lit("https://good.org/y/"), g))
           .otherwise(F.concat(F.lit("http://deep.a.example.com:8080/z/"), g)))
    synth = d.select(F.col("doc_id").cast("string").alias("id"),
                     url.alias("url"))
    blocked = spark.createDataFrame([("example.com",)], "domain string")
    return _web.filter_blocked_domains(synth, blocked)


ORACLE_DOMAIN_BLOCKLIST = r"""
WITH sy AS (
  SELECT CAST(doc_id AS VARCHAR) AS id,
         CASE doc_id % 4
           WHEN 0 THEN 'http://Sub.EXAMPLE.com/p/' || CAST(doc_id AS VARCHAR)
           WHEN 1 THEN 'http://example.community/x/' || CAST(doc_id AS VARCHAR)
           WHEN 2 THEN 'https://good.org/y/' || CAST(doc_id AS VARCHAR)
           ELSE 'http://deep.a.example.com:8080/z/' || CAST(doc_id AS VARCHAR)
         END AS url
  FROM documents
),
h AS (
  SELECT id, url,
         regexp_replace(
           lower(regexp_extract(
             regexp_replace(url, '^[A-Za-z][A-Za-z0-9+.-]*://', ''),
             '^([^/?#]*)', 1)),
           ':[0-9]+$', '') AS host
  FROM sy
),
sfx AS (
  SELECT id, url,
         list_transform(
           generate_series(1, len(string_split(host, '.'))),
           i -> array_to_string(
                  list_slice(string_split(host, '.'), i,
                             len(string_split(host, '.'))), '.')) AS chain
  FROM h
)
SELECT id, url FROM sfx
WHERE NOT list_contains(chain, 'example.com')
"""


def q_nfc_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC canonicalization (operators/text.py:nfc_normalize)
    over documents decorated with a DECOMPOSED suffix (e + U+0301) on
    doc_id%4==0 — FULL value oracle: DuckDB's nfc_normalize replays the
    byte-exact composed text and the changed flag."""
    from presto_bloomfilter_spark.operators import text as _text

    docs = load_table(spark, sf_dir, "documents")
    synth = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 4 == 0,
               F.concat(F.col("text"), F.lit(" café")))
         .otherwise(F.col("text")).alias("text"),
    )
    return _text.nfc_normalize(synth)


ORACLE_NFC_NORMALIZE = """
WITH synth AS (
  SELECT doc_id,
         CASE WHEN doc_id % 4 = 0 THEN text || ' café'
              ELSE text END AS text
  FROM documents
)
SELECT CAST(doc_id AS VARCHAR) AS id,
       nfc_normalize(text) AS text,
       nfc_normalize(text) <> text AS changed
FROM synth
"""


def q_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot delta audit (operators/diagnostics.py:corpus_diff):
    new = documents with doc_id%10==0 dropped (removed), text of
    doc_id%7==0 suffixed (changed), and fresh ids doc_id+2e9 cloned
    from doc_id%9==0 (added).  FULL value oracle: DuckDB replays the
    decoration and the per-source added/removed/changed/unchanged
    counts."""
    from presto_bloomfilter_spark.operators import diagnostics as _diag

    docs = load_table(spark, sf_dir, "documents")
    survivors = docs.filter(F.col("doc_id") % 10 != 0).select(
        "doc_id",
        F.when(F.col("doc_id") % 7 == 0,
               F.concat(F.col("text"), F.lit(" [rev2]")))
         .otherwise(F.col("text")).alias("text"),
        "source",
    )
    fresh = docs.filter(F.col("doc_id") % 9 == 0).select(
        (F.col("doc_id") + 2_000_000_000).alias("doc_id"), "text", "source")
    new = survivors.unionByName(fresh)
    return _diag.corpus_diff(docs, new)


ORACLE_CORPUS_DIFF = r"""
WITH new AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 THEN text || ' [rev2]' ELSE text END AS text,
         source
  FROM documents WHERE doc_id % 10 <> 0
  UNION ALL
  SELECT doc_id + 2000000000 AS doc_id, text, source
  FROM documents WHERE doc_id % 9 = 0
),
o AS (SELECT CAST(doc_id AS VARCHAR) AS id, source AS src_old, md5(text) AS h_old
      FROM documents),
n AS (SELECT CAST(doc_id AS VARCHAR) AS id, source AS src_new, md5(text) AS h_new
      FROM new),
j AS (
  SELECT COALESCE(n.src_new, o.src_old) AS source,
         CASE WHEN o.h_old IS NULL THEN 'added'
              WHEN n.h_new IS NULL THEN 'removed'
              WHEN o.h_old <> n.h_new THEN 'changed'
              ELSE 'unchanged' END AS state
  FROM o FULL OUTER JOIN n ON o.id = n.id
)
SELECT source,
       CAST(SUM(CASE WHEN state = 'added' THEN 1 ELSE 0 END) AS BIGINT) AS added,
       CAST(SUM(CASE WHEN state = 'removed' THEN 1 ELSE 0 END) AS BIGINT) AS removed,
       CAST(SUM(CASE WHEN state = 'changed' THEN 1 ELSE 0 END) AS BIGINT) AS changed,
       CAST(SUM(CASE WHEN state = 'unchanged' THEN 1 ELSE 0 END) AS BIGINT) AS unchanged
FROM j GROUP BY source
"""


def q_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided n-gram containment pairs (operators/dedup.py:
    ngram_containment_pairs) over a corpus with planted quotes: every
    second doc of the doc_id%3 stratum contributes a 15-word prefix
    quote (id + 1e9) whose grams are contained in its source — the
    subsumption shape Jaccard dilutes away.  FULL value oracle: DuckDB
    replays gram construction, the ordered co-occurrence join, and the
    c/|A| division."""
    from presto_bloomfilter_spark.operators import dedup as _dedup

    docs = load_table(spark, sf_dir, "documents")
    base = docs.filter(F.col("doc_id") % 3 == 0).select("doc_id", "text")
    words = F.filter(F.split(F.col("text"), r"\s+"), lambda w: w != "")
    quotes = (
        base.filter(F.col("doc_id") % 2 == 0)
        .select((F.col("doc_id") + 1_000_000_000).alias("doc_id"),
                F.concat_ws(" ", F.slice(words, 1, 15)).alias("text"))
    )
    corpus = base.unionByName(quotes)
    return _dedup.ngram_containment_pairs(corpus, threshold=0.9, n=3)


ORACLE_NGRAM_CONTAINMENT = r"""
WITH base AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
),
q AS (
  SELECT doc_id + 1000000000 AS doc_id,
         array_to_string(list_slice(
           list_filter(string_split_regex(text, '\s+'), x -> x <> ''),
           1, 15), ' ') AS text
  FROM base WHERE doc_id % 2 = 0
),
corpus AS (SELECT * FROM base UNION ALL SELECT * FROM q),
w AS (
  SELECT CAST(doc_id AS VARCHAR) AS id,
         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS words
  FROM corpus
),
g AS (
  SELECT id,
         list_distinct(CASE WHEN len(words) >= 3 THEN
           list_transform(generate_series(1, len(words) - 2),
                          i -> array_to_string(list_slice(words, i, i + 2), ' '))
         ELSE [COALESCE(array_to_string(words, ' '), '')] END) AS grams
  FROM w
),
t AS (SELECT id, UNNEST(grams) AS gr FROM g),
sz AS (SELECT id, len(grams) AS sz FROM g),
co AS (
  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS c
  FROM t a JOIN t b ON a.gr = b.gr AND a.id <> b.id
  GROUP BY a.id, b.id
)
SELECT co.id_a, co.id_b, CAST(co.c AS DOUBLE) / sz.sz AS containment
FROM co JOIN sz ON co.id_a = sz.id
WHERE CAST(co.c AS DOUBLE) / sz.sz >= 0.9
"""


def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI drift monitor (operators/stats.py:psi_drift) between the
    first and second halves of the event stream (split at half the max
    event_id) over the event_type distribution — FULL value oracle:
    DuckDB replays the split, the Laplace(0.5)-smoothed shares, each
    per-bucket term, and the total, at the stats-module 6-decimal
    parity rounding."""
    from presto_bloomfilter_spark.operators import stats as _stats

    e = load_table(spark, sf_dir, "events")
    cut = e.agg(F.max("event_id")).collect()[0][0] // 2
    ref = e.filter(F.col("event_id") <= cut).select("event_type")
    cur = e.filter(F.col("event_id") > cut).select("event_type")
    return _stats.psi_drift(ref, cur, "event_type")


ORACLE_PSI_DRIFT = r"""
WITH mx AS (SELECT max(event_id) // 2 AS cut FROM events),
r AS (SELECT event_type AS bucket, COUNT(*) AS ref_cnt
      FROM events, mx WHERE event_id <= cut GROUP BY 1),
c AS (SELECT event_type AS bucket, COUNT(*) AS cur_cnt
      FROM events, mx WHERE event_id > cut GROUP BY 1),
j AS (
  SELECT COALESCE(r.bucket, c.bucket) AS bucket,
         COALESCE(ref_cnt, 0) AS ref_cnt,
         COALESCE(cur_cnt, 0) AS cur_cnt
  FROM r FULL OUTER JOIN c ON r.bucket = c.bucket
),
t AS (SELECT SUM(ref_cnt) AS rn, SUM(cur_cnt) AS cn, COUNT(*) AS k FROM j),
x AS (
  SELECT bucket, ref_cnt, cur_cnt,
         ((ref_cnt + 0.5) / (rn + 0.5 * k) - (cur_cnt + 0.5) / (cn + 0.5 * k))
           * ln(((ref_cnt + 0.5) / (rn + 0.5 * k))
                / ((cur_cnt + 0.5) / (cn + 0.5 * k))) AS term
  FROM j, t
)
SELECT bucket, ref_cnt, cur_cnt,
       round(term, 6) + 0.0 AS psi_term,
       round(SUM(term) OVER (), 6) + 0.0 AS psi_total
FROM x
"""


def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-budget OOV rates at V ∈ {100, 1000} over documents
    (operators/stats.py:vocab_coverage) — FULL value oracle: DuckDB
    replays the global count-desc/word-asc ranking, both budgets, and
    the per-source OOV division."""
    from presto_bloomfilter_spark.operators import stats as _stats

    docs = load_table(spark, sf_dir, "documents")
    return _stats.vocab_coverage(docs, budgets=[100, 1000])


ORACLE_VOCAB_COVERAGE = r"""
WITH w AS (
  SELECT source,
         UNNEST(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS w
  FROM documents
),
c AS (SELECT source, w, COUNT(*) AS cnt FROM w GROUP BY source, w),
r AS (
  SELECT w, ROW_NUMBER() OVER (ORDER BY SUM(cnt) DESC, w ASC) AS rank
  FROM c GROUP BY w
),
b AS (SELECT UNNEST([100, 1000]) AS vocab_size)
SELECT CAST(b.vocab_size AS INTEGER) AS vocab_size, c.source,
       CAST(SUM(c.cnt) AS BIGINT) AS total_tokens,
       CAST(SUM(CASE WHEN r.rank > b.vocab_size THEN c.cnt ELSE 0 END)
            AS BIGINT) AS oov_tokens,
       CAST(SUM(CASE WHEN r.rank > b.vocab_size THEN c.cnt ELSE 0 END)
            AS DOUBLE) / SUM(c.cnt) AS oov_rate
FROM c JOIN r ON c.w = r.w CROSS JOIN b
GROUP BY b.vocab_size, c.source
"""


def q_fd_embedding_cov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent-Directions covariance sketch over the embeddings table
    (functions/fd.py): a distributed ExactGram pass gives the true
    AᵀA, a tree-merged ℓ=32 FD sketch gives BᵀB, and the two GLPW
    guarantees are asserted spectrally — AᵀA − BᵀB is PSD (FD only
    under-estimates) and its spectral norm is within the exactly
    tracked shed mass Δ ≤ 2‖A‖_F²/ℓ.  Row counts are value-checked;
    the guarantee flags are the boolean oracle surface (the ANN-gate
    pattern for non-SQL-expressible linear algebra)."""
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings")
    d = 64
    vecs = emb.select("embedding")
    gram = agg.aggregate_sketch(vecs, agg.sketch_spec(ExactGram, "embedding", "vectors", d))
    fd = agg.aggregate_sketch(vecs, agg.sketch_spec(FrequentDirections, "embedding", "vectors", d, ell=32))
    diff_eigs = np.linalg.eigvalsh(gram.G - fd.gram())
    tol = 1e-6 * fd.fnorm2
    psd_ok = bool(diff_eigs.min() >= -tol) and gram.n == fd.n
    bound_ok = bool(diff_eigs.max() <= fd.deltasum + tol) and bool(
        fd.deltasum <= fd.fnorm2 / 32)
    return spark.createDataFrame(
        [(int(fd.n), d, psd_ok, bound_ok)],
        "n bigint, d int, psd_ok boolean, bound_ok boolean",
    )


ORACLE_FD_EMBEDDING_COV = """
SELECT COUNT(*) AS n, CAST(64 AS INTEGER) AS d,
       TRUE AS psd_ok, TRUE AS bound_ok
FROM embeddings
"""


def q_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-level boilerplate removal (operators/text.py:
    boilerplate_lines) over decorated documents: every doc gains a
    per-source FOOTER line (df = 100% of the source's docs → removed),
    even doc_ids gain a PROMO line (df = 50% ≥ the 30% threshold →
    removed), odd doc_ids gain a doc-unique line (df = 1 → kept).
    FULL value oracle: DuckDB replays the decoration, the per-(source,
    line) distinct-doc counts, both thresholds, and the ordered
    reassembly of the cleaned text."""
    from presto_bloomfilter_spark.operators import text as _text

    docs = load_table(spark, sf_dir, "documents")
    synth = docs.select(
        "doc_id", "source",
        F.concat_ws(
            "\n",
            F.when(F.col("doc_id") % 2 == 0,
                   F.concat(F.lit("PROMO "), F.col("source")))
             .otherwise(F.concat(F.lit("uniq-"), F.col("doc_id").cast("string"))),
            F.col("text"),
            F.concat(F.lit("FOOTER "), F.col("source")),
        ).alias("text"),
    )
    return _text.boilerplate_lines(synth, min_docs=2, frac=0.3)


ORACLE_BOILERPLATE_LINES = r"""
WITH synth AS (
  SELECT doc_id, source,
         (CASE WHEN doc_id % 2 = 0 THEN 'PROMO ' || source
               ELSE 'uniq-' || CAST(doc_id AS VARCHAR) END)
         || chr(10) || text || chr(10) || 'FOOTER ' || source AS text
  FROM documents
),
l AS (
  SELECT CAST(doc_id AS VARCHAR) AS id, source,
         CAST(i AS BIGINT) AS pos, ls[i] AS line
  FROM (SELECT *, string_split(text, chr(10)) AS ls FROM synth),
       UNNEST(generate_series(1, len(ls))) AS t(i)
),
ldf AS (
  SELECT source, line, COUNT(DISTINCT id) AS df
  FROM l GROUP BY source, line
),
nd AS (SELECT source, COUNT(DISTINCT id) AS n_docs
       FROM l GROUP BY source),
m AS (
  SELECT l.id, l.source, l.pos, l.line,
         NOT (ldf.df >= 2 AND ldf.df >= 0.3 * nd.n_docs) AS keep
  FROM l
  JOIN ldf ON l.source = ldf.source AND l.line = ldf.line
  JOIN nd ON l.source = nd.source
)
SELECT id, source,
       COALESCE(string_agg(line, chr(10) ORDER BY pos)
                FILTER (WHERE keep), '') AS text,
       CAST(COUNT(*) AS INTEGER) AS n_lines,
       CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS INTEGER) AS n_kept
FROM m GROUP BY id, source
"""


def q_source_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source data card over documents (operators/stats.py:
    source_datacard) — FULL value oracle: DuckDB replays volumes,
    histogram median, md5 dup counts, and the modal-language
    tie-break."""
    from presto_bloomfilter_spark.operators import stats as _stats

    docs = load_table(spark, sf_dir, "documents")
    return _stats.source_datacard(docs)


ORACLE_SOURCE_DATACARD = r"""
WITH b AS (
  SELECT source, lang,
         len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS n_words,
         length(text) AS n_chars, md5(text) AS h
  FROM documents
),
core AS (
  SELECT source, COUNT(*) AS n_docs,
         CAST(SUM(n_words) AS BIGINT) AS n_words,
         CAST(SUM(n_chars) AS BIGINT) AS n_chars_sum,
         MIN(n_chars) AS n_chars_min, MAX(n_chars) AS n_chars_max,
         COUNT(*) - COUNT(DISTINCT h) AS dup_docs,
         COUNT(DISTINCT lang) AS n_langs
  FROM b GROUP BY source
),
hist AS (SELECT source, n_chars, COUNT(*) AS c FROM b GROUP BY source, n_chars),
cum AS (
  SELECT source, n_chars,
         SUM(c) OVER (PARTITION BY source ORDER BY n_chars) AS cum
  FROM hist
),
med AS (
  SELECT cum.source, MIN(cum.n_chars) AS p50_chars
  FROM cum JOIN core ON cum.source = core.source
  WHERE cum.cum >= ceil(core.n_docs / 2.0)
  GROUP BY cum.source
),
top AS (
  SELECT source, lang AS top_lang FROM (
    SELECT source, lang,
           ROW_NUMBER() OVER (PARTITION BY source
                              ORDER BY COUNT(*) DESC, lang ASC) AS rn
    FROM b GROUP BY source, lang
  ) WHERE rn = 1
)
SELECT core.source, core.n_docs, core.n_words, core.n_chars_sum,
       core.n_chars_min, med.p50_chars, core.n_chars_max,
       core.dup_docs, core.n_langs, top.top_lang
FROM core
JOIN med ON core.source = med.source
JOIN top ON core.source = top.source
"""


def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc 3-gram novelty of every non-reference document against
    the lexicographically-first source as the reference corpus
    (operators/text.py:ngram_novelty) — FULL value oracle: DuckDB
    replays gram construction (sliding 3-gram concat, short-doc
    fallback, per-doc distinct), the anti-join novelty counts, and the
    single-division score."""
    from presto_bloomfilter_spark.operators import text as _text

    docs = load_table(spark, sf_dir, "documents")
    first = docs.agg(F.min("source")).collect()[0][0]
    ref = docs.filter(F.col("source") == first)
    rest = docs.filter(F.col("source") != first)
    return _text.ngram_novelty(rest, ref, n=3)


ORACLE_NGRAM_NOVELTY = r"""
WITH m AS (SELECT MIN(source) AS s FROM documents),
w AS (
  SELECT doc_id, source,
         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS words
  FROM documents
),
g AS (
  SELECT doc_id, source,
         list_distinct(CASE WHEN len(words) >= 3 THEN
           list_transform(generate_series(1, len(words) - 2),
                          i -> array_to_string(list_slice(words, i, i + 2), ' '))
         ELSE [COALESCE(array_to_string(words, ' '), '')] END) AS grams
  FROM w
),
ref AS (
  SELECT DISTINCT UNNEST(grams) AS gr FROM g, m WHERE g.source = m.s
),
doc AS (
  SELECT doc_id, UNNEST(grams) AS gr FROM g, m WHERE g.source <> m.s
)
SELECT CAST(doc.doc_id AS VARCHAR) AS id,
       COUNT(*) AS n_grams,
       CAST(SUM(CASE WHEN ref.gr IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS novel_grams,
       CAST(SUM(CASE WHEN ref.gr IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
         / COUNT(*) AS novelty
FROM doc LEFT JOIN ref ON doc.gr = ref.gr
GROUP BY doc.doc_id
"""


def q_countsketch_f2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Sketch / AMS second-moment estimation (functions/
    countsketch.py): per-source signed sketches are built with one
    grouped tree-merge pass, the GLOBAL sketch is their lossless
    elementwise-add merge (byte-exact, any order), and three published
    bounds are asserted against exact distributed aggregates —
    corpus-wide F2 = Σ f_w² (self-join size), and the word-multiset
    equi-join size Σ f_a·f_b between the two lexicographically first
    sources via the unbiased inner-product estimator.  Exact values are
    value-checked against DuckDB; the estimates are asserted within
    4σ of the Thorup-Zhang variance envelopes."""
    import numpy as np

    from presto_bloomfilter_spark.functions.countsketch import CountSketch
    from presto_bloomfilter_spark.operators.contamination import split_words

    width = 4096
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select("source", F.explode(split_words("text")).alias("word"))

    per_src = agg.grouped_sketch(
        words, "source", agg.sketch_spec(CountSketch, "word", "strings", width=width))
    sks = {r[0]: sketch_from_bytes(r.sketch) for r in per_src.collect()}
    a, b = sorted(sks)[:2]
    merged = None
    for s in sorted(sks):
        merged = sks[s].copy() if merged is None else merged.merge(sks[s])
    f2_est = merged.f2()
    join_est = sks[a].inner_product(sks[b])

    # exact distributed aggregates (one word-count shuffle, reused)
    counts = words.groupBy("source", "word").agg(F.count("*").alias("cnt"))
    counts.persist()
    glob = (counts.groupBy("word").agg(F.sum("cnt").alias("cnt"))
            .agg(F.sum(F.col("cnt") * F.col("cnt")).alias("f2")).collect())
    f2_exact = int(glob[0]["f2"])
    per = {
        r["source"]: int(r["f2"])
        for r in counts.groupBy("source")
        .agg(F.sum(F.col("cnt") * F.col("cnt")).alias("f2")).collect()
    }
    ca = counts.filter(F.col("source") == a).select("word", F.col("cnt").alias("ca"))
    cb = counts.filter(F.col("source") == b).select("word", F.col("cnt").alias("cb"))
    join_exact = int(
        ca.join(cb, "word").agg(F.sum(F.col("ca") * F.col("cb")).alias("j"))
        .collect()[0]["j"])
    counts.unpersist()

    f2_ok = abs(f2_est - f2_exact) <= 4.0 * np.sqrt(2.0 / width) * f2_exact
    join_ok = abs(join_est - join_exact) <= 4.0 * np.sqrt(
        2.0 * per[a] * per[b] / width)
    return spark.createDataFrame(
        [(f2_exact, bool(f2_ok), f"{a}|{b}", join_exact, bool(join_ok))],
        "f2_exact bigint, f2_ok boolean, join_pair string, "
        "join_exact bigint, join_ok boolean",
    )


ORACLE_COUNTSKETCH_F2 = r"""
WITH w AS (
  SELECT source,
         UNNEST(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS word
  FROM documents
),
c AS (SELECT source, word, COUNT(*) AS cnt FROM w GROUP BY source, word),
g AS (SELECT word, SUM(cnt) AS cnt FROM c GROUP BY word),
f2 AS (SELECT CAST(SUM(cnt * cnt) AS BIGINT) AS f2_exact FROM g),
pair AS (
  SELECT MIN(source) AS a,
         MIN(CASE WHEN source > (SELECT MIN(source) FROM c) THEN source END) AS b
  FROM c
),
j AS (
  SELECT CAST(SUM(ca.cnt * cb.cnt) AS BIGINT) AS join_exact
  FROM c ca JOIN c cb ON ca.word = cb.word, pair
  WHERE ca.source = pair.a AND cb.source = pair.b
)
SELECT f2.f2_exact, TRUE AS f2_ok, pair.a || '|' || pair.b AS join_pair,
       j.join_exact, TRUE AS join_ok
FROM f2, pair, j
"""


ORACLE_MG_TOP_WORDS = """
SELECT item, cnt FROM (
  SELECT w AS item, COUNT(*) AS cnt,
         ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, w ASC) AS rn
  FROM (SELECT UNNEST(list_filter(string_split_regex(text, '\\s+'),
                                  x -> x <> '')) AS w
        FROM documents)
  GROUP BY w
) WHERE rn <= 20
"""


def q_token_family_fused(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fused bloom+CMS+HLL family in one scan (aggregate_sketch_from_
    parquet): for the exact top-20 tokens, bloom must contain each, CMS
    must bound each count, and the family-level HLL must bound the
    distinct-token count."""
    import numpy as np

    tokens = load_tokens(spark, sf_dir)
    fam = agg.aggregate_sketch_from_parquet(
        spark, tokens_parquet_path(sf_dir),
        agg.token_family_over_tokens("tokens", bloom_n=1_000_000),
        n_tasks=8,
    )
    bloom, cms, hll = fam.parts
    w = Window.orderBy(F.desc("cnt"), F.asc("token"))
    top = (
        tokens.select(F.explode("tokens").alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .select("token", "cnt")
        .collect()
    )
    n_distinct = (
        tokens.select(F.explode("tokens").alias("t"))
        .agg(F.countDistinct("t").alias("d"))
        .collect()[0].d
    )
    toks = np.array([r.token for r in top])
    cnts = np.array([r.cnt for r in top])
    est = cms.estimate_ints(toks)
    cms_ok = (est >= cnts) & (est <= cnts + cms.error_bound())
    bloom_ok = bloom.might_contain_ints(toks)
    hll_ok = abs(hll.estimate() - n_distinct) / n_distinct <= 0.025
    return spark.createDataFrame(
        [
            (int(t), int(c), bool(b), bool(o), bool(hll_ok))
            for t, c, b, o in zip(toks, cnts, bloom_ok, cms_ok)
        ],
        "token int, cnt long, bloom_ok boolean, cms_ok boolean, hll_ok boolean",
    )


ORACLE_TOKEN_FAMILY_FUSED = f"""
SELECT token, cnt, TRUE AS bloom_ok, TRUE AS cms_ok, TRUE AS hll_ok FROM (
  SELECT tok AS token, COUNT(*) AS cnt,
         ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, tok ASC) AS rn
  FROM (SELECT UNNEST(tokens) AS tok FROM {_TOKENS_SQL})
  GROUP BY tok
) WHERE rn <= 20
"""


def q_kll_ntok_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source n_tok p50/p90 via KLL, asserted within rank-error."""
    tokens = load_tokens(spark, sf_dir)
    per_src = agg.grouped_sketch(tokens, "source", agg.sketch_spec(KLLSketch, "n_tok", "floats"))
    rows = []
    tol = None
    for r in per_src.collect():
        sk = sketch_from_bytes(r.sketch)
        tol = 6 * sk.rank_error
        rows.append((r[0], float(sk.quantile(0.5)), float(sk.quantile(0.9))))
    lit = spark.createDataFrame(rows, "source string, p50 double, p90 double")
    joined = tokens.join(F.broadcast(lit), "source")
    return joined.groupBy("source").agg(
        (
            F.abs(F.avg((F.col("n_tok") <= F.col("p50")).cast("double")) - F.lit(0.5)) <= F.lit(tol)
        ).alias("p50_ok"),
        (
            F.abs(F.avg((F.col("n_tok") <= F.col("p90")).cast("double")) - F.lit(0.9)) <= F.lit(tol)
        ).alias("p90_ok"),
    )


ORACLE_KLL_NTOK_QUANTILES = f"""
SELECT source, TRUE AS p50_ok, TRUE AS p90_ok FROM {_TOKENS_SQL} GROUP BY source
"""


def q_tdigest_ntok_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source n_tok p50/p99 via t-digest — tail-accurate quantile
    sibling (north_rule lists both t-digest and KLL); asserted within
    rank-error envelopes against the exact empirical CDF."""
    tokens = load_tokens(spark, sf_dir)
    per_src = agg.grouped_sketch(tokens, "source", agg.sketch_spec(TDigest, "n_tok", "floats"))
    rows = []
    tol = None
    for r in per_src.collect():
        sk = sketch_from_bytes(r.sketch)
        tol = sk.rank_error
        rows.append((r[0], float(sk.quantile(0.5)), float(sk.quantile(0.99))))
    lit = spark.createDataFrame(rows, "source string, p50 double, p99 double")
    joined = tokens.join(F.broadcast(lit), "source")
    return joined.groupBy("source").agg(
        (
            F.abs(F.avg((F.col("n_tok") <= F.col("p50")).cast("double")) - F.lit(0.5)) <= F.lit(tol)
        ).alias("p50_ok"),
        (
            # clipped lognormal: n_tok piles up at the 512 cap, so rank
            # 0.99 can sit inside the cap atom — allow the atom boundary
            F.abs(F.avg((F.col("n_tok") <= F.col("p99")).cast("double")) - F.lit(0.99)) <= F.lit(0.02)
        ).alias("p99_ok"),
    )


ORACLE_TDIGEST_NTOK_QUANTILES = f"""
SELECT source, TRUE AS p50_ok, TRUE AS p99_ok FROM {_TOKENS_SQL} GROUP BY source
"""


def q_ddsketch_ntok_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source n_tok p50/p90 via DDSketch (Masson et al. VLDB 2019)
    — the RELATIVE-error member of the quantile family, and the only
    one whose merge is lossless bucket addition (byte-identical under
    any merge tree).  The guarantee |est - x_q| <= alpha·x_q implies
    two exact distributed checks against the raw data: the empirical
    CDF at est/(1-alpha) is >= q, and the strict CDF at est/(1+alpha)
    is <= q + 1/n (rank discreteness).  Both are asserted per source."""
    tokens = load_tokens(spark, sf_dir)
    alpha = 0.01
    per_src = agg.grouped_sketch(
        tokens, "source", agg.sketch_spec(DDSketch, "n_tok", "floats", alpha=alpha))
    rows = []
    for r in per_src.collect():
        sk = sketch_from_bytes(r.sketch)
        rows.append((r[0], float(sk.quantile(0.5)), float(sk.quantile(0.9))))
    lit = spark.createDataFrame(rows, "source string, p50 double, p90 double")
    joined = tokens.join(F.broadcast(lit), "source")
    a = alpha + 2e-4  # float slack on the published bound
    checks = []
    for q, col in ((0.5, "p50"), (0.9, "p90")):
        lo_ok = F.avg((F.col("n_tok") <= F.col(col) / (1 - a)).cast("double")) >= F.lit(q)
        hi_ok = F.avg((F.col("n_tok") < F.col(col) / (1 + a)).cast("double")) <= (
            F.lit(q) + 1.0 / F.count(F.lit(1)))
        checks.append((lo_ok & hi_ok).alias(f"{col}_ok"))
    return joined.groupBy("source").agg(*checks)


ORACLE_DDSKETCH_NTOK_QUANTILES = f"""
SELECT source, TRUE AS p50_ok, TRUE AS p90_ok FROM {_TOKENS_SQL} GROUP BY source
"""


# =================== relational coverage (SURVEY §2.2) ========================


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan → filter → hash agg (partial+final free via
    Catalyst)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-01"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
            F.count("*").alias("cnt"),
            F.countDistinct("l_partkey").alias("n_parts"),
        )
    )


ORACLE_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       COUNT(*) AS cnt,
       COUNT(DISTINCT l_partkey) AS n_parts
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-01'
GROUP BY l_returnflag, l_linestatus
"""


def q_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """join → agg → top-n: customer side broadcast (small dim)."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    j = orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
    aggd = j.groupBy("c_custkey", "c_mktsegment").agg(
        F.count("*").alias("n_orders"),
        F.floor(F.sum("o_totalprice")).cast("long").alias("revenue"),
    )
    w = Window.orderBy(F.desc("revenue"), F.asc("c_custkey"))
    return (
        aggd.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("c_custkey", "c_mktsegment", "n_orders", "revenue", F.col("rank").cast("int").alias("rank"))
    )


ORACLE_TOP_CUSTOMERS = """
SELECT c_custkey, c_mktsegment, n_orders, revenue, CAST(rn AS INTEGER) AS rank FROM (
  SELECT c.c_custkey, c.c_mktsegment, COUNT(*) AS n_orders,
         CAST(FLOOR(SUM(o.o_totalprice)) AS BIGINT) AS revenue,
         ROW_NUMBER() OVER (ORDER BY CAST(FLOOR(SUM(o.o_totalprice)) AS BIGINT) DESC, c.c_custkey ASC) AS rn
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY c.c_custkey, c.c_mktsegment
) WHERE rn <= 10
"""


def q_distinct_users_by_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count("*").alias("n_events"),
    )


ORACLE_DISTINCT_USERS_BY_EVENT = """
SELECT event_type, COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events
FROM events GROUP BY event_type
"""


def q_persist_load_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.1 rows 7 + 12-14 gate: ``bloom_filter_persist`` →
    ``bloom_filter_load`` round trips through BOTH persistence surfaces
    — the sketch store (atomic file put/get) and an embedded HTTP
    server speaking the persist-service wire form (base64 text body) —
    then contains-all probes over every inserted member.  Mirrors the
    reference's embedded-server end-to-end test
    (TestBloomFilterQueries.java:97-136, persist → HTTP GET → load →
    contains).  Both loads happen eagerly on the driver (the loaded
    filter is broadcast), so the server's lifetime is the load call,
    exactly like the reference's fixture."""
    import tempfile
    import threading
    from http.server import BaseHTTPRequestHandler, HTTPServer

    from presto_bloomfilter_spark import compat

    nation = load_table(spark, sf_dir, "nation")
    bf = agg.aggregate_sketch(nation, agg.sketch_spec(BloomFilter, "n_name", "strings", 1000, 0.01))

    root = tempfile.mkdtemp(prefix="pbs_persist_")
    path = os.path.join(root, "nation_names.sketch")
    if not compat.bloom_filter_persist(bf, path):
        raise RuntimeError("bloom_filter_persist returned false")
    from_store = compat.bloom_filter_load(path)

    body = compat.to_string(bf).encode("ascii")

    class _Handler(BaseHTTPRequestHandler):
        def do_GET(self):  # noqa: N802 — BaseHTTPRequestHandler API
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *args):
            pass

    srv = HTTPServer(("127.0.0.1", 0), _Handler)
    thread = threading.Thread(target=srv.serve_forever, daemon=True)
    thread.start()
    try:
        from_http = compat.bloom_filter_load(
            f"http://127.0.0.1:{srv.server_port}/nation_names"
        )
    finally:
        srv.shutdown()
        srv.server_close()

    probed = nation.select(
        contains_udf(spark, from_store)(F.col("n_name")).alias("h_store"),
        contains_udf(spark, from_http)(F.col("n_name")).alias("h_http"),
    )
    return probed.agg(
        F.count("*").alias("n_members"),
        F.sum(F.col("h_store").cast("long")).alias("n_contained_store"),
        F.sum(F.col("h_http").cast("long")).alias("n_contained_http"),
    )


ORACLE_PERSIST_LOAD_ROUNDTRIP = """
SELECT COUNT(*) AS n_members, COUNT(*) AS n_contained_store,
       COUNT(*) AS n_contained_http
FROM nation
"""


def q_sketch_introspection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.1 rows 6 + 9-11 gate, exercised through the REGISTERED SQL
    surface (reference TestBloomFilterQueries.java:48-96 pins these
    same goldens in SQL): ``to_string`` equals the driver-side base64;
    ``bloom_filter_from_string(to_string(bf))`` round-trips to an
    identical blob; ``get_expected_insertions`` /
    ``get_false_positive_percentage`` read back the construction
    parameters; the round-tripped filter still contains every member.
    One row of ints/booleans — bit-exact on both engines."""
    from presto_bloomfilter_spark import compat

    compat.register_sql_functions(spark)
    nation = load_table(spark, sf_dir, "nation")
    nation.createOrReplaceTempView("pbs_nation_intro")
    bf = agg.aggregate_sketch(nation, agg.sketch_spec(BloomFilter, "n_name", "strings", 1000, 0.01))
    compat.publish_sketch_view(spark, bf, "pbs_bf_intro")
    b64 = compat.to_string(bf)
    # Python-API forms agree before the SQL forms are gated
    if compat.get_expected_insertions(bf) != 1000 or compat.get_false_positive_percentage(bf) != 0.01:
        raise RuntimeError("header getters disagree with construction params")
    return spark.sql(
        f"""
        WITH rt AS (
          SELECT bf, bloom_filter_from_string(to_string(bf)) AS bf2
          FROM pbs_bf_intro
        )
        SELECT
          CAST(MAX(get_expected_insertions(bf)) AS BIGINT)        AS n_expected,
          BOOL_AND(get_false_positive_percentage(bf) = 0.01D)     AS fpp_ok,
          BOOL_AND(to_string(bf) = '{b64}')                       AS tostring_ok,
          BOOL_AND(to_string(bf2) = to_string(bf))                AS roundtrip_ok,
          COUNT(*)                                                AS n_members,
          SUM(CAST(bloom_filter_contains(bf2, n_name) AS BIGINT)) AS n_contained_roundtrip
        FROM rt CROSS JOIN pbs_nation_intro
        """
    )


ORACLE_SKETCH_INTROSPECTION = """
SELECT CAST(1000 AS BIGINT) AS n_expected, TRUE AS fpp_ok, TRUE AS tostring_ok,
       TRUE AS roundtrip_ok, COUNT(*) AS n_members, COUNT(*) AS n_contained_roundtrip
FROM nation
"""


def q_nation_region_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(F.count("*").alias("n_nations"))
    )


ORACLE_NATION_REGION_JOIN = """
SELECT r_name, COUNT(*) AS n_nations
FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r_name
"""


# ============== training-pipeline operators (task mandate) ====================

# deterministic augmented corpus: originals + exact dups + 90%-truncated
# near-dups — identical construction on both engines
_AUG_SQL = """
SELECT CAST(doc_id AS VARCHAR) AS id, text FROM documents
UNION ALL
SELECT 'dup-' || CAST(doc_id AS VARCHAR) AS id, text FROM documents WHERE doc_id % 10 = 0
UNION ALL
SELECT 'near-' || CAST(doc_id AS VARCHAR) AS id,
       substr(text, 1, CAST(FLOOR(n_chars * 0.9) AS INTEGER)) AS text
FROM documents WHERE doc_id % 7 = 0
"""


def _aug_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    orig = d.select(F.col("doc_id").cast("string").alias("id"), "text")
    dups = d.filter(F.col("doc_id") % 10 == 0).select(
        F.concat(F.lit("dup-"), F.col("doc_id").cast("string")).alias("id"), "text"
    )
    nears = d.filter(F.col("doc_id") % 7 == 0).select(
        F.concat(F.lit("near-"), F.col("doc_id").cast("string")).alias("id"),
        F.substring(F.col("text"), 1, F.floor(F.col("n_chars") * 0.9).cast("int")).alias("text"),
    )
    return orig.unionAll(dups).unionAll(nears)


_SUBSTR_SENT = ("quorum basalt lattice ember copper violet saffron "
                "meridian umbra zephyr cobalt harbor")  # 12 words


def q_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup (hashed-window formulation of Lee et al.
    2022): a 12-word sentinel is appended to every doc_id%5==0 doc on
    BOTH engines, so cross-document duplicated spans exist by
    construction; duplicated_spans must recover each injected region
    (merged to maximal spans at 8-word-window granularity) — FULL value
    oracle: DuckDB recomputes every span with the same window hashing +
    island-merge semantics in pure SQL."""
    from presto_bloomfilter_spark.operators import substring as subs

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.col("doc_id") % 5 == 0,
               F.concat(F.col("text"), F.lit(" " + _SUBSTR_SENT)))
         .otherwise(F.col("text")).alias("text"),
    )
    return subs.duplicated_spans(docs, min_len=8).select(
        "id", F.col("start").alias("start_w"), F.col("end").alias("end_w"))


ORACLE_SUBSTRING_DEDUP = rf"""
WITH aug AS (
  SELECT CAST(doc_id AS VARCHAR) AS id,
         CASE WHEN doc_id % 5 = 0 THEN text || ' {_SUBSTR_SENT}' ELSE text END AS text
  FROM documents
),
d AS (
  SELECT id, ws FROM (
    SELECT id,
           list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS ws
    FROM aug
  ) WHERE len(ws) >= 8
),
gi AS (
  SELECT id, ws, unnest(generate_series(1, len(ws) - 7)) AS i FROM d
),
g AS (
  SELECT id, i - 1 AS pos, array_to_string(ws[i:i+7], ' ') AS gr FROM gi
),
dup AS (SELECT gr FROM g GROUP BY gr HAVING COUNT(*) >= 2),
m AS (SELECT id, pos FROM g JOIN dup USING (gr)),
isl AS (
  SELECT id, pos,
         CASE WHEN pos > COALESCE(MAX(pos + 8) OVER (
             PARTITION BY id ORDER BY pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
         THEN 1 ELSE 0 END AS ni
  FROM m
),
isl2 AS (SELECT id, pos, SUM(ni) OVER (PARTITION BY id ORDER BY pos) AS island FROM isl)
SELECT id, CAST(MIN(pos) AS INTEGER) AS start_w, CAST(MAX(pos) + 8 AS INTEGER) AS end_w
FROM isl2 GROUP BY id, island
"""


_MEM_A = ("argon beacon cipher dynamo ember falcon garnet helix "
          "indigo jasper krypton lumen")                      # 12 words
_MEM_B = ("maroon nectar onyx prism quartz russet sierra topaz "
          "umber vortex walnut xenon")                        # 12 words
_MEM_T = "yonder zenith abacus brindle cobble drossel ferrule gimbal"  # 8


def q_substring_mem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal exact matches — the suffix-array per-repeat output of
    Lee et al. 2022 that the hashed-window coverage form cannot
    express (VERDICT r4 item 9): sentinel A is appended to doc_id%20
    docs, B to doc_id%30 docs (so %60 docs carry 'A B' ADJACENT — the
    window form fuses them into one span; MEMs must report a len-12
    match with an A-only partner and a longer match with another AB
    doc, each with exact boundaries), and a tandem 'T T' to doc_id%50
    docs (within-doc diagonal + varied-prefix cross-doc extensions).
    FULL value oracle: DuckDB recomputes every MEM from gram STRINGS
    with the same pair/diagonal-chain semantics in pure SQL."""
    from presto_bloomfilter_spark.operators import substring as subs

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 20 == 0, F.lit(" " + _MEM_A))
             .otherwise(F.lit("")),
            F.when(F.col("doc_id") % 30 == 0, F.lit(" " + _MEM_B))
             .otherwise(F.lit("")),
            F.when(F.col("doc_id") % 50 == 0,
                   F.lit(" " + _MEM_T + " " + _MEM_T)).otherwise(F.lit("")),
        ).alias("text"),
    )
    return subs.maximal_exact_matches(
        docs, min_len=8, max_occurrences=1024, verify=True)


ORACLE_SUBSTRING_MEM = rf"""
WITH aug AS (
  SELECT CAST(doc_id AS VARCHAR) AS id,
         text
         || (CASE WHEN doc_id % 20 = 0 THEN ' {_MEM_A}' ELSE '' END)
         || (CASE WHEN doc_id % 30 = 0 THEN ' {_MEM_B}' ELSE '' END)
         || (CASE WHEN doc_id % 50 = 0 THEN ' {_MEM_T} {_MEM_T}' ELSE '' END)
         AS text
  FROM documents
),
d AS (
  SELECT id, ws FROM (
    SELECT id,
           list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS ws
    FROM aug
  ) WHERE len(ws) >= 8
),
gi AS (
  SELECT id, ws, unnest(generate_series(1, len(ws) - 7)) AS i FROM d
),
g AS (
  SELECT id, i - 1 AS pos, array_to_string(ws[i:i+7], ' ') AS gr FROM gi
),
keep AS (SELECT gr FROM g GROUP BY gr HAVING COUNT(*) BETWEEN 2 AND 1024),
m AS (SELECT id, pos, gr FROM g JOIN keep USING (gr)),
p AS (
  SELECT a.id AS id_a, a.pos AS pos_a, b.id AS id_b, b.pos AS pos_b
  FROM m a JOIN m b ON a.gr = b.gr
  WHERE a.id < b.id OR (a.id = b.id AND a.pos < b.pos)
),
c AS (
  SELECT *, CASE WHEN pos_a - LAG(pos_a) OVER (
      PARTITION BY id_a, id_b, pos_b - pos_a ORDER BY pos_a) = 1
    THEN 0 ELSE 1 END AS nc
  FROM p
),
c2 AS (
  SELECT *, SUM(nc) OVER (
      PARTITION BY id_a, id_b, pos_b - pos_a ORDER BY pos_a) AS chain
  FROM c
)
SELECT id_a, CAST(MIN(pos_a) AS INTEGER) AS pos_a,
       id_b, CAST(MIN(pos_b) AS INTEGER) AS pos_b,
       CAST(COUNT(*) + 7 AS INTEGER) AS len_w
FROM c2 GROUP BY id_a, id_b, pos_b - pos_a, chain
"""


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dup_groups(_aug_documents(spark, sf_dir), "text", "id")


ORACLE_DEDUP_EXACT = f"""
SELECT md5(text) AS text_hash, COUNT(*) AS dup_cnt
FROM ({_AUG_SQL}) GROUP BY md5(text) HAVING COUNT(*) > 1
"""


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH candidates verified by exact shingle Jaccard ≥ 0.5 —
    deterministically equals the constructed near-dup pair set."""
    pairs = dedup.minhash_near_dup_pairs(_aug_documents(spark, sf_dir), "text", "id", threshold=0.5)
    return pairs.select("id_a", "id_b")


# brute-force word-3gram-shingle Jaccard over all pairs — the exact
# definition the LSH+verify pipeline approximates (and, with these
# band/row settings, recovers exactly: min true-positive sim ≈ 0.73 →
# candidate-miss probability < 1e-6 per pair)
ORACLE_DEDUP_MINHASH = f"""
WITH sh AS (
  SELECT id, list_distinct(list_transform(range(1, len(string_split(text,' ')) - 1),
         i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' ||
              string_split(text,' ')[i+2])) AS shingles
  FROM ({_AUG_SQL})
)
SELECT a.id AS id_a, b.id AS id_b
FROM sh a JOIN sh b ON a.id < b.id
WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
      / (len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles))) >= 0.5
"""


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT n-gram Jaccard set-similarity join, pure Catalyst (no
    Python, no approximation) — the ground-truth sibling of
    dedup_minhash, value-checked including the jaccard itself (integer
    operands ⇒ bit-identical IEEE division on both engines)."""
    return dedup.ngram_jaccard_pairs(_aug_documents(spark, sf_dir), "text", "id", threshold=0.5)


ORACLE_NGRAM_JACCARD = f"""
WITH w AS (
  SELECT id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS words
  FROM ({_AUG_SQL})
),
sh AS (
  SELECT id, CASE WHEN len(words) >= 3 THEN
    list_distinct(list_transform(range(1, len(words) - 1),
      i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))
    ELSE [array_to_string(words, ' ')] END AS shingles
  FROM w
)
SELECT a.id AS id_a, b.id AS id_b,
       CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
         / (len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles)))
         AS jaccard
FROM sh a JOIN sh b ON a.id < b.id
WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
      / (len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles))) >= 0.5
"""


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup CONNECTIVITY check: every constructed exact-dup
    pair (doc, 'dup-'+doc) has Hamming distance 0, so the two ids must
    land in the same dup cluster — asserted per pair against a DuckDB
    oracle that enumerates the construction.  Connectivity (same
    component over the emitted pairs), not direct pair emission, is
    the operator's contract: when a degenerate band bucket exceeds its
    cap, star pairing keeps members connected through a representative
    without materializing the quadratic bucket, so the direct pair may
    legitimately be absent at scale while the cluster stays intact."""
    pairs = dedup.simhash_near_dup_pairs(_aug_documents(spark, sf_dir), "text", "id")
    comp = dedup.components_from_pairs(pairs)
    d = load_table(spark, sf_dir, "documents")
    expected = d.filter(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id").cast("string").alias("id_a"),
        F.concat(F.lit("dup-"), F.col("doc_id").cast("string")).alias("id_b"),
    )
    ca = comp.select(F.col("id").alias("id_a"), F.col("component").alias("__ca"))
    cb = comp.select(F.col("id").alias("id_b"), F.col("component").alias("__cb"))
    return (
        expected.join(ca, "id_a", "left").join(cb, "id_b", "left")
        .select(
            "id_a", "id_b",
            (F.col("__ca").isNotNull() & (F.col("__ca") == F.col("__cb"))
             ).alias("found"),
        )
    )


ORACLE_SIMHASH_PAIRS = """
SELECT CAST(doc_id AS VARCHAR) AS id_a,
       'dup-' || CAST(doc_id AS VARCHAR) AS id_b,
       TRUE AS found
FROM documents WHERE doc_id % 10 = 0
"""


def q_drop_exact_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Representative-keeping exact dedup (min id per content hash wins,
    deterministic under any partitioning) — the filter form of
    dedup_exact."""
    kept = dedup.drop_exact_dups(_aug_documents(spark, sf_dir), "text", "id")
    return kept.select("id")


ORACLE_DROP_EXACT_DUPS = f"""
SELECT id FROM (
  SELECT id, ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY id) AS rn
  FROM ({_AUG_SQL})
) WHERE rn = 1
"""


def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality filtering (min word count) — predicate stays JVM-side so
    it pushes into the scan pipeline; output is the surviving ids."""
    d = load_table(spark, sf_dir, "documents")
    return text.quality_filter(d, "text", min_words=40).select(
        F.col("doc_id").cast("string").alias("id")
    )


ORACLE_QUALITY_FILTER = r"""
SELECT CAST(doc_id AS VARCHAR) AS id FROM documents
WHERE len(list_filter(string_split_regex(text, '\s+'), w -> w != '')) >= 40
"""


def q_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 10% hash sample of documents by doc_id — the
    reproducible, engine-portable sampling a training pipeline needs
    (pure function of the key: identical sample in Spark and SQL)."""
    d = load_table(spark, sf_dir, "documents")
    return text.hash_sample(d, "doc_id", 10).select(
        F.col("doc_id").cast("string").alias("id")
    )


ORACLE_HASH_SAMPLE = """
SELECT CAST(doc_id AS VARCHAR) AS id FROM documents
WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 10
"""


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (text.pii_scrub): the documents table augmented
    with deterministic doc_id-derived PII spans (an email, a phone, an
    IPv4 — the synthetic corpus contains none of its own), scrubbed
    JVM-side; DuckDB applies the identical RE2-compatible pattern
    chain and must produce byte-identical scrubbed text + counts."""
    from presto_bloomfilter_spark.operators import text

    d = load_table(spark, sf_dir, "documents")
    aug = d.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), F.col("doc_id").cast("string"),
            F.lit("@example.com or 555-123-4567 from 10.0.0."),
            (F.col("doc_id") % 256).cast("string"),
        ),
    )
    out = text.pii_scrub(aug)
    return out.select(
        F.col("doc_id").cast("string").alias("id"),
        F.col("n_redactions"),
        F.col("text").alias("scrubbed"),
    )


ORACLE_PII_SCRUB = """
WITH aug AS (
  SELECT CAST(doc_id AS VARCHAR) AS id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com or 555-123-4567 from 10.0.0.'
              || CAST(doc_id % 256 AS VARCHAR) AS t0
  FROM documents
), s1 AS (
  SELECT id,
         len(regexp_extract_all(t0, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS c1,
         regexp_replace(t0, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1
  FROM aug
), s2 AS (
  SELECT id, c1,
         len(regexp_extract_all(t1, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) AS c2,
         regexp_replace(t1, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g') AS t2
  FROM s1
)
SELECT id,
       CAST(c1 + c2 + len(regexp_extract_all(t2, '\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b')) AS INT)
         AS n_redactions,
       regexp_replace(t2, '\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b', '<PHONE>', 'g') AS scrubbed
FROM s2
"""


def q_cap_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key quota (sampling.cap_per_key): at most 20 docs per
    source, selected by deterministic md5 rank — the per-domain cap a
    crawl pipeline applies so one host cannot dominate.  Full surviving
    (id, source) set value-checked against DuckDB's identical window."""
    from presto_bloomfilter_spark.operators import sampling

    d = load_table(spark, sf_dir, "documents")
    out = sampling.cap_per_key(d, "source", 20, "doc_id")
    return out.select(F.col("doc_id").cast("string").alias("id"), "source")


ORACLE_CAP_PER_SOURCE = """
SELECT id, source FROM (
  SELECT CAST(doc_id AS VARCHAR) AS id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY md5(CAST(source AS VARCHAR) || '#' || CAST(doc_id AS VARCHAR)),
                    CAST(doc_id AS VARCHAR)) AS rn
  FROM documents)
WHERE rn <= 20
"""


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Efraimidis–Spirakis weighted sample (k=25, weight = n_chars):
    the surviving id set is a pure function of (seed, keys, weights),
    so DuckDB running the identical ln(u)/w ranking must select the
    same rows (u is bit-exact in both engines; ln differs by <=1 ulp,
    far below the priority gaps on this data)."""
    from presto_bloomfilter_spark.operators import sampling

    d = load_table(spark, sf_dir, "documents")
    out = sampling.weighted_sample(d, "doc_id", "n_chars", 25, seed=9)
    return out.select(F.col("doc_id").cast("string").alias("id"), "n_chars")


ORACLE_WEIGHTED_SAMPLE = """
SELECT id, n_chars FROM (
  SELECT CAST(doc_id AS VARCHAR) AS id, n_chars,
         ln((CAST(('0x' || substr(md5('9-' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
             + 0.5) / 4294967296.0) / CAST(n_chars AS DOUBLE) AS pr
  FROM documents WHERE n_chars > 0
  ORDER BY pr DESC, id LIMIT 25)
"""


# edge rows UNIONed into both ingest round trips (and their oracles)
# so the gates exercise quoting, separators-in-values, empty strings,
# and edge whitespace BY CONSTRUCTION — the synthetic corpus happens to
# contain none of them, and a round trip that only ever sees clean
# text would pass by accident.  (Embedded newlines are deliberately
# absent: load_csv documents them as quarantine-bound, not lossless.)
_INGEST_EDGE_ROWS = [
    (-1, 'comma, "quoted" and \\backslash\\', "src_edge", 7),
    (-2, "", "src_edge", 0),
    (-3, "  padded  ", "src_edge", 5),
]

_INGEST_EDGE_SQL = """
  SELECT -1 AS doc_id, 'comma, "quoted" and \\backslash\\' AS text,
         'src_edge' AS source, 7 AS n_chars
  UNION ALL SELECT -2, '', 'src_edge', 0
  UNION ALL SELECT -3, '  padded  ', 'src_edge', 5
"""


def _ingest_roundtrip(spark, sf_dir, prefix, write_fn, load_fn) -> DataFrame:
    """Shared body of the ingest gates: documents + edge rows → write
    via ``write_fn(df, path)`` → read back via ``load_fn(path)`` →
    clean split → canonical (id, source, n_chars, text)."""
    import tempfile

    from presto_bloomfilter_spark.sources.tables import split_corrupt

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source", "n_chars")
    edges = spark.createDataFrame(
        _INGEST_EDGE_ROWS, "doc_id bigint, text string, source string, n_chars bigint")
    path = tempfile.mkdtemp(prefix=prefix) + "/docs"
    write_fn(d.unionByName(edges), path)
    clean, _bad = split_corrupt(load_fn(path))
    return clean.select(
        F.col("doc_id").cast("string").alias("id"), "source", "n_chars", "text")


def q_jsonl_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL ingestion round trip: documents + constructed edge rows
    (quotes, commas, empty string, edge whitespace) written as JSONL,
    read back through load_jsonl (explicit schema, PERMISSIVE +
    corrupt quarantine), clean rows returned.  Full value oracle —
    every (id, source, n_chars, text) must survive the JSON
    encode/decode byte-identically."""
    from presto_bloomfilter_spark.sources.tables import load_jsonl

    return _ingest_roundtrip(
        spark, sf_dir, "pbs_jsonl_",
        lambda df, p: df.write.mode("overwrite").json(p),
        lambda p: load_jsonl(
            spark, p, "doc_id bigint, text string, source string, n_chars bigint"),
    )


ORACLE_JSONL_INGEST = f"""
SELECT CAST(doc_id AS VARCHAR) AS id, source, n_chars, text
FROM (SELECT doc_id, text, source, n_chars FROM documents
      UNION ALL {_INGEST_EDGE_SQL})
"""


def q_csv_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV ingestion round trip over documents + the same constructed
    edge rows, using the faithful-round-trip recipe load_csv documents
    (writer: sentinel nullValue + no edge-whitespace trimming; reader:
    matching null_value) — quoting, separators-in-values, EMPTY STRING
    vs NULL, and edge whitespace are value-checked end to end.
    Embedded newlines are out of scope by documented design (multiline
    off; such rows quarantine)."""
    from presto_bloomfilter_spark.sources.tables import load_csv

    return _ingest_roundtrip(
        spark, sf_dir, "pbs_csv_",
        lambda df, p: (
            df.write.mode("overwrite").option("header", "true")
            .option("nullValue", "\\N")
            .option("ignoreLeadingWhiteSpace", "false")
            .option("ignoreTrailingWhiteSpace", "false")
            .csv(p)),
        lambda p: load_csv(
            spark, p, "doc_id bigint, text string, source string, n_chars bigint",
            null_value="\\N"),
    )


ORACLE_CSV_INGEST = ORACLE_JSONL_INGEST


def q_weighted_sample_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source A-ES weighted sample (k=5 per source, weight =
    n_chars): the grouped sibling of weighted_sample.  The surviving
    (source, id) set is a pure function of (seed, keys, weights), so
    DuckDB ranking the identical ln(u)/w priority per source selects
    the same rows."""
    from presto_bloomfilter_spark.operators import sampling

    d = load_table(spark, sf_dir, "documents")
    out = sampling.weighted_sample_per_key(
        d, "source", "doc_id", "n_chars", 5, seed=11)
    return out.select(
        F.col("doc_id").cast("string").alias("id"), "source", "n_chars")


ORACLE_WEIGHTED_SAMPLE_PER_KEY = """
SELECT id, source, n_chars FROM (
  SELECT CAST(doc_id AS VARCHAR) AS id, source, n_chars,
         row_number() OVER (
           PARTITION BY source
           ORDER BY ln((CAST(('0x' || substr(md5('11-' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                        + 0.5) / 4294967296.0) / CAST(n_chars AS DOUBLE) DESC,
                    CAST(doc_id AS VARCHAR)) AS rn
  FROM documents WHERE n_chars > 0)
WHERE rn <= 5
"""


def q_split_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free grouped train/val/test split: every doc of a source
    shares one split label, assignment = md5 uniform of the source cut
    at cumulative fractions (0.5 / 0.75 — both exact doubles, so the
    comparison is bit-identical across engines).  Full value oracle:
    DuckDB computes the same md5 → u → CASE chain per row."""
    from presto_bloomfilter_spark.operators import sampling

    d = load_table(spark, sf_dir, "documents")
    out = sampling.split_by_group(
        d, "source", {"train": 0.5, "val": 0.25, "test": 0.25}, seed=3)
    return out.select(
        F.col("doc_id").cast("string").alias("id"), "source", "split")


ORACLE_SPLIT_BY_GROUP = """
SELECT CAST(doc_id AS VARCHAR) AS id, source,
       CASE WHEN u IS NULL THEN NULL
            WHEN u < 0.5 THEN 'train'
            WHEN u < 0.75 THEN 'val'
            ELSE 'test' END AS split
FROM (
  SELECT doc_id, source,
         (CAST(('0x' || substr(md5('3-' || CAST(source AS VARCHAR)), 1, 8)) AS BIGINT)
          + 0.5) / 4294967296.0 AS u
  FROM documents)
"""


def q_quantile_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KLL-driven length bucketing (B=4 over n_chars): one sketch pass
    for the cut points, map-only assignment — no global sort.  Cut
    points are sketch-internal (not SQL-reproducible), so the oracle is
    boolean-assert: every row bucketed, all 4 buckets populated, bucket
    value-ranges strictly ordered (monotone assignment), and
    populations within ±8% of n/4 (KLL is near-exact at gate scale)."""
    from presto_bloomfilter_spark.operators import sampling

    d = load_table(spark, sf_dir, "documents")
    n = d.count()
    out = sampling.bucket_by_quantile(d, "n_chars", 4)
    per = out.groupBy("bucket").agg(
        F.count("*").alias("c"),
        F.min("n_chars").alias("lo"),
        F.max("n_chars").alias("hi"),
    )
    w = Window.orderBy("bucket")
    per = per.withColumn("prev_hi", F.lag("hi").over(w))
    return per.agg(
        F.sum("c").alias("n_rows"),
        F.countDistinct("bucket").alias("n_buckets_seen"),
        F.coalesce(
            F.min(F.col("prev_hi").isNull() | (F.col("lo") >= F.col("prev_hi"))),
            F.lit(True),
        ).alias("monotone_ok"),
        (F.max(F.abs(F.col("c") / F.lit(float(n)) - 0.25)) < 0.08).alias("balanced_ok"),
    )


ORACLE_QUANTILE_BUCKETS = """
SELECT COUNT(*) AS n_rows, CAST(4 AS BIGINT) AS n_buckets_seen,
       TRUE AS monotone_ok, TRUE AS balanced_ok
FROM documents
"""


def q_shuffle_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic two-level global shuffle of the documents table:
    (bucket, pos) is a pure function of (seed, doc_id) — reproducible
    training-data ordering with no global sort (operators/shuffle.py).
    The full (id, bucket, pos) set is value-checked against DuckDB
    computing the identical md5-derived permutation."""
    from presto_bloomfilter_spark.operators import shuffle

    d = load_table(spark, sf_dir, "documents")
    out = shuffle.deterministic_shuffle(d, "doc_id", seed=7, buckets=16)
    return out.select(
        F.col("doc_id").cast("string").alias("id"),
        "shuffle_bucket",
        "shuffle_pos",
    )


ORACLE_SHUFFLE_RANK = """
WITH h AS (
  SELECT CAST(doc_id AS VARCHAR) AS id,
         md5('shuffle-7-' || CAST(doc_id AS VARCHAR)) AS hx
  FROM documents
)
SELECT id,
       CAST(CAST(('0x' || substr(hx, 1, 8)) AS BIGINT) % 16 AS INT) AS shuffle_bucket,
       CAST(row_number() OVER (
            PARTITION BY CAST(('0x' || substr(hx, 1, 8)) AS BIGINT) % 16
            ORDER BY hx, id) AS BIGINT) AS shuffle_pos
FROM h
"""


def q_embedding_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH-banded APPROXIMATE near-dup path (the corpus-scale
    sibling of embedding_near_dup): exact verify ⇒ zero false
    positives (subset check), banding ⇒ measured recall ≥ 0.5 —
    both asserted as booleans against the exact pair set."""
    emb = load_table(spark, sf_dir, "embeddings")
    exact = similarity.embedding_near_dup_pairs(spark, emb, threshold=0.4)
    approx = similarity.embedding_near_dup_pairs_lsh(
        spark, emb, threshold=0.4, bits=4, n_tables=8
    )
    e = exact.withColumn("__e", F.lit(1))
    a = approx.withColumn("__a", F.lit(1))
    j = e.join(a, ["id_a", "id_b"], "full")
    return j.agg(
        F.sum(F.coalesce(F.col("__e"), F.lit(0))).alias("n_exact"),
        (F.sum(F.when(F.col("__a").isNotNull() & F.col("__e").isNull(), 1).otherwise(0)) == 0).alias("no_fp"),
        (
            F.sum(F.when(F.col("__a").isNotNull() & F.col("__e").isNotNull(), 1).otherwise(0))
            / F.sum(F.coalesce(F.col("__e"), F.lit(0)))
            >= F.lit(0.5)
        ).alias("recall_ok"),
    )


ORACLE_EMBEDDING_NEAR_DUP_LSH = """
SELECT COUNT(*) AS n_exact, TRUE AS no_fp, TRUE AS recall_ok
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) >= 0.4
"""


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.text_quality(load_table(spark, sf_dir, "documents"), "text", "doc_id")


ORACLE_TEXT_QUALITY = f"""
SELECT CAST(doc_id AS VARCHAR) AS id,
       CAST(len(words) AS INTEGER) AS n_words,
       CAST(list_sum(list_transform(words, w -> len(w))) AS DOUBLE)
         / len(words) AS avg_word_len,
       CAST(len(list_filter(words, w -> w IN {_STOPWORD_SQL})) AS DOUBLE)
         / len(words) AS stopword_ratio
FROM (SELECT doc_id,
             list_filter(string_split_regex(text, '\\s+'), w -> w != '') AS words
      FROM documents)
"""


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.token_count(load_table(spark, sf_dir, "documents"), "text", "doc_id")


ORACLE_TOKEN_COUNT = r"""
SELECT CAST(doc_id AS VARCHAR) AS id,
       CAST(len(string_split_regex(trim(text), '\s+')) AS INTEGER) AS n_tokens
FROM documents
"""


def q_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.token_count_bpe(load_table(spark, sf_dir, "documents"), "text", "doc_id")


ORACLE_TOKEN_COUNT_BPE = f"""
SELECT CAST(doc_id AS VARCHAR) AS id,
       CAST(len(regexp_extract_all(text, '{text.BPE_ISH_PATTERN.replace("'", "''")}')) AS INTEGER) AS n_bpe_tokens
FROM documents
"""


def q_tokenize_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL merges-table BPE (operators/bpe): train on the gate subset,
    tokenize with the vectorized Arrow kernel, and emit per doc the
    token count, an md5 over the space-joined token-id stream, and the
    detokenize-roundtrip boolean (decode must reproduce the input text
    byte-exactly).  FULL VALUE ORACLE: _oracle_tokenize_bpe recomputes
    (n_tok, tokens_md5) per doc with an INDEPENDENT pipeline — DuckDB
    RE2 pre-tokenization + the pure-Python reference per-chunk encoder
    (bpe.encode_chunk_reference) over merges re-trained from the
    DuckDB-derived histogram — so chunking, training input, and merge
    application are all cross-engine-checked, not just row counts."""
    from presto_bloomfilter_spark.operators import bpe

    docs = load_table(spark, sf_dir, "documents").orderBy("doc_id").limit(256)
    merges = bpe.bpe_train(docs, n_merges=384, sample_rows=256)
    toks = bpe.tokenize_bpe(docs, merges)
    dec = bpe.detokenize_bpe(toks, merges).withColumnRenamed("text", "decoded")
    orig = docs.select(F.col("doc_id").cast("string").alias("id"),
                       F.col("text").alias("orig"))
    return (
        toks.join(dec, "id").join(orig, "id")
        .select(
            "id",
            "n_tok",
            F.md5(F.concat_ws(
                " ", F.expr("transform(tokens, x -> cast(x as string))"))
            ).alias("tokens_md5"),
            (F.col("decoded") == F.col("orig")).alias("roundtrip_ok"),
        )
    )


def _oracle_tokenize_bpe() -> str:
    """Independent-engine oracle for q_tokenize_bpe, resolved lazily at
    oracle_sql() time (it computes the expected values in pure Python
    and emits them as a VALUES table)."""
    import hashlib

    import duckdb

    from collections import Counter

    from presto_bloomfilter_spark.operators.bpe import train_from_counts

    sf = os.environ.get("PBS_GATE_SF_DIR", "/root/testdata/sf0.01")
    rows = duckdb.connect().execute(
        "SELECT doc_id, regexp_extract_all(text, ?) "
        "FROM read_parquet(?) ORDER BY doc_id LIMIT 256",
        [text.BPE_ISH_PATTERN, f"{sf}/documents.parquet"],
    ).fetchall()
    counts: Counter = Counter()
    for _, chunks in rows:
        for c in chunks:
            counts[c.encode("utf-8")] += 1
    # replicate bpe_train's deterministic histogram cap (count desc,
    # chunk asc in code-point order — == UTF-8 binary order)
    capped = dict(sorted(counts.items(),
                         key=lambda kv: (-kv[1], kv[0].decode("utf-8")))[:65_536])
    m = train_from_counts(capped, 384)
    vals = []
    for doc_id, chunks in rows:
        ids: list[int] = []
        for c in chunks:
            ids.extend(m.encode_chunk_reference(c.encode("utf-8")))
        md5 = hashlib.md5(" ".join(map(str, ids)).encode()).hexdigest()
        vals.append(f"('{doc_id}', {len(ids)}, '{md5}', TRUE)")
    return ("SELECT * FROM (VALUES " + ", ".join(vals)
            + ") AS t(id, n_tok, tokens_md5, roundtrip_ok)")


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-shape semantic dedup (similarity.semantic_dedup,
    arXiv:2303.09540): coarse clustering, then the keep-lowest-id rule
    over WITHIN-cluster cosine pairs at threshold 0.4 — O(sum
    cluster_size^2) instead of O(n^2).  Gate uses the deterministic
    ``seed_strategy="first"`` quantizer (seeds = the 8 smallest-id
    embeddings) so the oracle replays clustering + keep rule exactly
    in SQL; production uses the spherical-kmeans quantizer, whose
    recall is pytest-checked against this exact form."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.semantic_dedup(
        spark, emb, threshold=0.4, n_clusters=8, seed_strategy="first",
    ).select(F.col("vec_id").alias("id"), "cluster_id", "kept")


ORACLE_SEMANTIC_DEDUP = """
WITH seeds AS (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid,
         embedding AS sv
  FROM embeddings ORDER BY vec_id LIMIT 8
),
assign AS (
  SELECT vec_id, cid AS cluster_id, embedding FROM (
    SELECT e.vec_id, s.cid, e.embedding,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
             list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                    CAST(s.sv AS DOUBLE[])) DESC,
             s.cid ASC) AS rn
    FROM embeddings e, seeds s
  ) WHERE rn = 1
),
dups AS (
  SELECT DISTINCT x.vec_id
  FROM assign x JOIN assign y
    ON x.cluster_id = y.cluster_id AND y.vec_id < x.vec_id
  WHERE list_cosine_similarity(CAST(x.embedding AS DOUBLE[]),
                               CAST(y.embedding AS DOUBLE[])) >= 0.4
)
SELECT a.vec_id AS id, CAST(a.cluster_id AS BIGINT) AS cluster_id,
       a.vec_id NOT IN (SELECT vec_id FROM dups) AS kept
FROM assign a
"""


def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling (selection.dsir_select,
    arXiv:2302.03169): target = the src0 documents, raw = the whole
    corpus; hashed unigram+bigram multinomials over 256 md5 buckets,
    per-doc log importance weight, deterministic Gumbel top-k
    selection of n/10 documents.  FULL value oracle: DuckDB refits
    both multinomials, rescores every doc, replays the salted-md5
    Gumbel draw and the top-k cut.  log_weight is rounded to 6dp on
    BOTH sides (a ~100-term float sum; cross-engine ln ulp noise is
    ~1e-13, far under the grid); the selected flag compares unrounded
    keys whose adjacent order-statistic gaps are ~1/n >> ulp."""
    d = load_table(spark, sf_dir, "documents")
    k = max(20, d.count() // 10)
    out = selection.dsir_select(
        d, d.filter(F.col("source") == "src0"), k=k,
        buckets=256, smoothing=0.5)
    return out.select("id", "n_grams",
                      F.round("log_weight", 6).alias("log_weight"),
                      "selected")


ORACLE_DSIR_SELECT = r"""
WITH d AS (
  SELECT CAST(doc_id AS VARCHAR) AS id, source,
         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS words
  FROM documents
),
g AS (
  SELECT id, source,
         unnest(words || list_transform(range(1, len(words)),
                                        i -> words[i] || chr(31) || words[i + 1])) AS gram
  FROM d
),
b AS (
  SELECT id, source,
         CAST(('0x' || substr(md5(gram), 1, 8)) AS BIGINT) % 256 AS bucket
  FROM g
),
tc AS (SELECT bucket, count(*) AS c FROM b WHERE source = 'src0' GROUP BY bucket),
rc AS (SELECT bucket, count(*) AS c FROM b GROUP BY bucket),
llr AS (
  SELECT grid.bucket,
         ln((coalesce(tc.c, 0) + 0.5)
            / ((SELECT count(*) FROM b WHERE source = 'src0') + 0.5 * 256))
         - ln((coalesce(rc.c, 0) + 0.5)
              / ((SELECT count(*) FROM b) + 0.5 * 256)) AS llr
  FROM (SELECT unnest(range(256)) AS bucket) grid
  LEFT JOIN tc USING (bucket) LEFT JOIN rc USING (bucket)
),
w AS (
  SELECT b.id, count(*) AS n_grams, sum(llr.llr) AS log_weight
  FROM b JOIN llr USING (bucket) GROUP BY b.id
),
scored AS (
  SELECT d.id,
         CAST(coalesce(w.n_grams, 0) AS INTEGER) AS n_grams,
         coalesce(w.log_weight, 0.0) AS log_weight,
         coalesce(w.log_weight, 0.0)
           + (-ln(-ln((CAST(('0x' || substr(md5(d.id || chr(31) || 'gumbel'), 1, 13))
                            AS BIGINT) + 0.5) / 4503599627370496.0))) AS gkey
  FROM d LEFT JOIN w USING (id)
)
SELECT id, n_grams, round(log_weight, 6) AS log_weight,
       row_number() OVER (ORDER BY gkey DESC, id)
         <= GREATEST(20, (SELECT count(*) FROM d) // 10) AS selected
FROM scored
"""


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs at threshold 0.4 — blocked
    brute-force over a broadcast matrix (see similarity module for the
    LSH-bucketed scale path)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.embedding_near_dup_pairs(spark, emb, threshold=0.4)


ORACLE_EMBEDDING_NEAR_DUP = """
SELECT a.vec_id AS id_a, b.vec_id AS id_b
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) >= 0.4
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID, fully oracle-checked: the n-gram-overlap
    score is occurrence counting, which ANSI SQL expresses as
    (length(text) - length(replace(text, gram, ''))) / length(gram);
    argmax ties break by profile order on both engines."""
    return text.lang_id(load_table(spark, sf_dir, "documents"), "text", "doc_id").select("id", "pred_lang")


def _lang_id_oracle_sql() -> str:
    selects = []
    for ord_, (lang, grams) in enumerate(text._LANG_PROFILES.items()):
        terms = " + ".join(
            f"(length(text) - length(replace(text, '{g}', ''))) / {len(g)}" for g in grams
        )
        selects.append(
            f"SELECT doc_id, '{lang}' AS lang, {ord_} AS ord, {terms} AS score FROM documents"
        )
    union = "\nUNION ALL ".join(selects)
    return f"""
WITH scores AS (
{union}
)
SELECT CAST(doc_id AS VARCHAR) AS id, lang AS pred_lang FROM (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, ord ASC) AS rn
  FROM scores
) WHERE rn = 1
"""


ORACLE_LANG_ID = _lang_id_oracle_sql()


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints, oracle-checked on what SQL can see: the
    per-doc k-gram count (k=5; the gram kernel's segmentation must match
    SQL word counts) plus the winnowing size invariant
    1 <= |fingerprint| <= n_kgrams as a boolean."""
    d = load_table(spark, sf_dir, "documents")
    fp = text.fingerprint(d, "text", "doc_id")
    words = d.select(
        F.col("doc_id").cast("string").alias("id"),
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("__nw"),
    )
    return fp.join(words, "id").select(
        "id",
        F.greatest(F.col("__nw") - F.lit(4), F.lit(1)).cast("int").alias("n_kgrams"),
        (
            (F.size("fingerprint") >= 1)
            & (F.size("fingerprint") <= F.greatest(F.col("__nw") - F.lit(4), F.lit(1)))
        ).alias("fp_ok"),
    )


ORACLE_FINGERPRINT = r"""
SELECT CAST(doc_id AS VARCHAR) AS id,
       CAST(GREATEST(len(string_split_regex(trim(text), '\s+')) - 4, 1) AS INTEGER) AS n_kgrams,
       TRUE AS fp_ok
FROM documents
"""


def q_repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style within-doc repetition quality signals, full value
    oracle (fracs are single divisions of identical integer operands —
    bit-exact across engines)."""
    d = load_table(spark, sf_dir, "documents")
    return text.repetition_metrics(d)


ORACLE_REPETITION_METRICS = r"""
WITH w AS (
  SELECT CAST(doc_id AS VARCHAR) AS id,
         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS words
  FROM documents
),
g AS (
  SELECT id, words, CASE WHEN len(words) >= 2 THEN
    list_transform(range(1, len(words)), i -> words[i] || ' ' || words[i+1])
    ELSE [array_to_string(words, ' ')] END AS grams
  FROM w
)
SELECT id, CAST(len(words) AS INTEGER) AS n_words,
       CAST(len(words) - len(list_distinct(words)) AS DOUBLE) / len(words) AS word_rep_frac,
       CAST(len(grams) - len(list_distinct(grams)) AS DOUBLE) / len(grams) AS dup_gram_frac
FROM g
"""


_BM25_TERMS = ("data", "query", "spark", "window")
_BM25_K = 50


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-k retrieval over the documents corpus — full
    value oracle (same idf/tf/length normalization computed in SQL;
    ln-vs-ln last-ulp noise is 5+ orders below the driver's 9-decimal
    float rounding).  Plan: one single-row stats aggregate + one
    map-only codegen'd scoring projection + TakeOrderedAndProject."""
    d = load_table(spark, sf_dir, "documents")
    return ranking.bm25_topk(d, _BM25_TERMS, k=_BM25_K)


def _bm25_oracle() -> str:
    terms = ", ".join(f"('{t}')" for t in _BM25_TERMS)
    return rf"""
WITH w AS (
  SELECT CAST(doc_id AS VARCHAR) AS id,
         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS words
  FROM documents
),
stats AS (
  SELECT count(*) AS n, CAST(sum(len(words)) AS DOUBLE) / count(*) AS avgdl
  FROM w
),
terms(term) AS (SELECT * FROM (VALUES {terms})),
dfreq AS (
  SELECT term, count(*) FILTER (WHERE list_contains(words, term)) AS df
  FROM terms CROSS JOIN w GROUP BY term
),
scored AS (
  SELECT w.id,
         sum(
           ln(1 + ((SELECT n FROM stats) - df + 0.5) / (df + 0.5))
           * CAST(len(list_filter(words, x -> x = term)) AS DOUBLE)
           * (1.2 + 1.0)
           / (CAST(len(list_filter(words, x -> x = term)) AS DOUBLE)
              + 1.2 * ((1 - 0.75) + 0.75 * CAST(len(words) AS DOUBLE)
                                    / (SELECT avgdl FROM stats)))
         ) AS score
  FROM w CROSS JOIN dfreq
  GROUP BY w.id
)
SELECT id, score FROM scored WHERE score > 0
ORDER BY score DESC, id
LIMIT {_BM25_K}
"""


ORACLE_BM25_TOPK = _bm25_oracle()


_TFIDF_K = 3
_TFIDF_MIN_DF = 2
_TFIDF_MAX_DF_FRAC = 0.5


def q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc top-3 TF-IDF keywords with both df bounds active
    (min_df=2 drops hapaxes; max_df_frac=0.5 drops the corpus's ~30
    ubiquitous natural terms, all at 75-80% df).  The corpus vocab is
    too small to rank on alone, so every doc gains in-band keywords:
    one ``kw_<id%40>`` (df≈2.5%, high idf) and a doubled
    ``kx_<id%7>`` (df≈14%, tf=2) — their score interplay exercises
    the tf×idf ordering at every scale with no per-scale tuning.
    FULL value oracle: DuckDB recomputes tf/df/idf/score and replays
    the per-doc ranking; ties only at identical (tf, df), broken by
    term in both engines."""
    d = load_table(spark, sf_dir, "documents")
    kw = F.concat(F.lit("kw_"), (F.col("doc_id") % 40).cast("string"))
    kx = F.concat(F.lit("kx_"), (F.col("doc_id") % 7).cast("string"))
    synth = d.select(
        "doc_id", F.concat_ws(" ", F.col("text"), kw, kx, kx).alias("text"))
    return ranking.tfidf_topk(synth, k=_TFIDF_K, min_df=_TFIDF_MIN_DF,
                              max_df_frac=_TFIDF_MAX_DF_FRAC)


ORACLE_TFIDF_TOPK = rf"""
WITH sy AS (
  SELECT doc_id,
         concat_ws(' ', text,
                   'kw_' || CAST(doc_id % 40 AS VARCHAR),
                   'kx_' || CAST(doc_id % 7 AS VARCHAR),
                   'kx_' || CAST(doc_id % 7 AS VARCHAR)) AS text
  FROM documents
),
w AS (
  SELECT CAST(doc_id AS VARCHAR) AS id, u.term AS term
  FROM sy,
       unnest(list_filter(string_split_regex(text, '\s+'),
                          x -> x <> '')) AS u(term)
),
n AS (SELECT count(*) AS n FROM documents),
tf AS (SELECT id, term, count(*) AS tf FROM w GROUP BY id, term),
dfq AS (
  SELECT term, count(*) AS df_docs FROM tf GROUP BY term
  HAVING count(*) >= {_TFIDF_MIN_DF}
     AND count(*) <= {_TFIDF_MAX_DF_FRAC} * (SELECT n FROM n)
),
s AS (
  SELECT tf.id, tf.term, tf.tf, dfq.df_docs,
         CAST(tf.tf AS DOUBLE)
         * (ln(((SELECT n FROM n) + 1.0)
               / (CAST(dfq.df_docs AS DOUBLE) + 1.0)) + 1.0) AS score
  FROM tf JOIN dfq USING (term)
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY id
                               ORDER BY score DESC, term) AS rank
  FROM s
)
SELECT id, term, CAST(tf AS INTEGER) AS tf,
       CAST(df_docs AS INTEGER) AS df_docs, score,
       CAST(rank AS INTEGER) AS rank
FROM r WHERE rank <= {_TFIDF_K}
"""


def q_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM negative log-likelihood per doc (KenLM-style quality
    scoring), trained on the deterministic md5 20% sample — full value
    oracle: DuckDB retrains the identical counts on the identical
    sample and rescores every doc.  Docs with <2 words aren't
    scoreable; both sides coalesce that to 0.0 (true nll is strictly
    positive under add-alpha smoothing, so the sentinel is
    unambiguous).  ``min_count=2`` exercises the KenLM-style driver-
    table bound — the oracle applies the identical count floor, so
    singleton uni/bigram types hit the alpha path on BOTH engines."""
    d = load_table(spark, sf_dir, "documents")
    scored = ranking.lm_score(d, sample_percent=20, alpha=0.1, min_count=2)
    return scored.select(
        "id", "n_words",
        F.when(F.col("nll").isNull() | F.isnan("nll"), F.lit(0.0))
        .otherwise(F.col("nll")).alias("nll"),
    )


ORACLE_LM_SCORE = r"""
WITH d AS (
  SELECT CAST(doc_id AS VARCHAR) AS id,
         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS words
  FROM documents
),
train AS (
  SELECT words FROM d
  WHERE CAST(('0x' || substr(md5(id), 1, 8)) AS BIGINT) % 100 < 20
),
uni AS (
  SELECT w, count(*) AS c FROM (SELECT unnest(words) AS w FROM train) GROUP BY w
  HAVING count(*) >= 2
),
bi AS (
  SELECT p, count(*) AS c FROM (
    SELECT unnest(list_transform(range(1, len(words)),
                                 i -> words[i] || chr(31) || words[i + 1])) AS p
    FROM train
  ) GROUP BY p
  HAVING count(*) >= 2
),
v AS (SELECT count(*) AS nv FROM uni),
pos AS (
  SELECT id, words, unnest(range(2, len(words) + 1)) AS i
  FROM d WHERE len(words) >= 2
),
sc AS (
  SELECT pos.id,
         -ln((coalesce(b.c, 0) + 0.1)
             / (coalesce(u.c, 0) + 0.1 * (SELECT nv FROM v))) AS nl
  FROM pos
  LEFT JOIN uni u ON u.w = pos.words[pos.i - 1]
  LEFT JOIN bi b ON b.p = pos.words[pos.i - 1] || chr(31) || pos.words[pos.i]
)
SELECT d.id, CAST(len(d.words) AS INTEGER) AS n_words,
       coalesce(s.nll, 0.0) AS nll
FROM d LEFT JOIN (SELECT id, sum(nl) / count(*) AS nll FROM sc GROUP BY id) s
       USING (id)
"""


_QC_B, _QC_ITERS, _QC_LR, _QC_PCT = 32, 12, 2.0, 30


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained quality classifier (fasttext-style hashed-gram logistic
    regression): fit on the deterministic md5 30% seed sample labeled
    ``source == 'src0'``, score every document.  Full value oracle:
    DuckDB REFITS the identical model — the fixed-iteration zero-init
    full-batch GD is unrolled into one chained CTE per iteration — and
    replays every probability; scores round to 6 decimals (cross-
    engine float discipline, the GD replay agrees to ~1e-12)."""
    d = load_table(spark, sf_dir, "documents")
    labeled = text.hash_sample(d, "doc_id", _QC_PCT).withColumn(
        "label", (F.col("source") == "src0").cast("double"))
    model = classifier.train_quality_classifier(
        labeled, buckets=_QC_B, iters=_QC_ITERS, lr=_QC_LR)
    return classifier.score_quality(d, model)


def _quality_classifier_oracle(buckets: int = _QC_B, iters: int = _QC_ITERS,
                               lr: float = _QC_LR,
                               percent: int = _QC_PCT) -> str:
    """Unrolled-GD replay: w0 = zeros; each iteration is two CTEs
    (per-doc margins p{t}, weight update w{t+1}) mirroring
    classifier.train_quality_classifier exactly."""
    b = buckets
    head = rf"""
WITH d AS (
  SELECT CAST(doc_id AS VARCHAR) AS id, source,
         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS words
  FROM documents
),
g AS (
  SELECT id, unnest(words || list_transform(range(1, len(words)),
                                            i -> words[i] || chr(31) || words[i + 1])) AS gram
  FROM d
),
cnt AS MATERIALIZED (
  SELECT id, CAST(('0x' || substr(md5(gram), 1, 8)) AS BIGINT) % {b} AS bucket,
         count(*) AS c
  FROM g GROUP BY id, bucket
),
tot AS (SELECT id, sum(c) AS t FROM cnt GROUP BY id),
x AS MATERIALIZED (
  SELECT cnt.id, cnt.bucket, CAST(cnt.c AS DOUBLE) / tot.t AS x
  FROM cnt JOIN tot USING (id)
  UNION ALL
  SELECT id, {b} AS bucket, 1.0 AS x FROM d
),
lab AS MATERIALIZED (
  SELECT id, CASE WHEN source = 'src0' THEN 1.0 ELSE 0.0 END AS y
  FROM d
  WHERE CAST(('0x' || substr(md5(id), 1, 8)) AS BIGINT) % 100 < {percent}
),
xs AS MATERIALIZED (SELECT x.* FROM x JOIN lab ON x.id = lab.id),
n AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM lab),
w0 AS MATERIALIZED (SELECT unnest(range({b + 1})) AS bucket, 0.0 AS w)"""
    steps = []
    for t in range(iters):
        steps.append(f"""
p{t} AS MATERIALIZED (
  SELECT lab.id, lab.y, 1.0 / (1.0 + exp(-coalesce(m.s, 0.0))) AS p
  FROM lab LEFT JOIN (
    SELECT xs.id, sum(xs.x * w{t}.w) AS s
    FROM xs JOIN w{t} USING (bucket) GROUP BY xs.id
  ) m USING (id)
),
w{t + 1} AS MATERIALIZED (
  SELECT w{t}.bucket,
         w{t}.w - {lr!r} * coalesce(gr.g, 0.0) / (SELECT n FROM n) AS w
  FROM w{t} LEFT JOIN (
    SELECT xs.bucket, sum((p{t}.p - p{t}.y) * xs.x) AS g
    FROM xs JOIN p{t} USING (id) GROUP BY xs.bucket
  ) gr USING (bucket)
)""")
    tail = f"""
SELECT x.id, CAST(count(*) - 1 AS INTEGER) AS n_gram_types,
       round(1.0 / (1.0 + exp(-sum(x.x * wf.w))), 6) + 0.0 AS prob
FROM x JOIN w{iters} wf USING (bucket)
GROUP BY x.id
"""
    return head + "," + ",".join(steps) + tail


ORACLE_QUALITY_CLASSIFIER = _quality_classifier_oracle()


_LID_B, _LID_ITERS, _LID_LR, _LID_PCT = 64, 12, 1.0, 30


def q_lang_id_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained language ID (fasttext-style multiclass softmax over
    hashed grams) — the trained counterpart of the heuristic
    ``lang_id``.  The raw corpus text does NOT vary by language (the
    synthetic generator shares one vocabulary), so the gate constructs
    a deterministic multilingual corpus in-band: word i keeps its form
    when i%10 ≥ 7 and becomes ``word_<lang>`` otherwise — the same
    positional rule on both engines.  Fit on the md5 30% seed sample
    labeled with the ``lang`` column, predict every document.  FULL
    value oracle: DuckDB refits the identical softmax GD (unrolled
    CTEs, one margins+softmax+update block per iteration) and replays
    every argmax prediction + 6dp winner probability."""
    d = load_table(spark, sf_dir, "documents")
    words = F.filter(F.split(F.col("text"), r"\s+"), lambda w: w != "")
    synth = d.select(
        "doc_id", "lang",
        F.concat_ws(" ", F.transform(
            words,
            lambda w, i: F.when(i % 10 < 7,
                                F.concat(w, F.lit("_"), F.col("lang")))
                          .otherwise(w))).alias("text"))
    labeled = text.hash_sample(synth, "doc_id", _LID_PCT)
    model = classifier.train_lang_classifier(
        labeled, buckets=_LID_B, iters=_LID_ITERS, lr=_LID_LR,
        label_col="lang")
    return classifier.predict_lang(synth, model)


def _lang_id_trained_oracle(buckets: int = _LID_B, iters: int = _LID_ITERS,
                            lr: float = _LID_LR,
                            percent: int = _LID_PCT) -> str:
    """Unrolled softmax-GD replay mirroring train_lang_classifier:
    W0 = zeros over (class × bucket); each iteration is margins per
    (id, class) → per-doc softmax → residual vs one-hot label →
    per-(class, bucket) gradient → weight update."""
    b = buckets
    head = rf"""
WITH d AS (
  SELECT CAST(doc_id AS VARCHAR) AS id, lang,
         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS w0
  FROM documents
),
sy AS (
  SELECT id, lang,
         list_transform(w0, (x, i) -> CASE WHEN (i - 1) % 10 < 7
                                      THEN x || '_' || lang ELSE x END) AS words
  FROM d
),
g AS (
  SELECT id, unnest(words || list_transform(range(1, len(words)),
                                            i -> words[i] || chr(31) || words[i + 1])) AS gram
  FROM sy
),
cnt AS MATERIALIZED (
  SELECT id, CAST(('0x' || substr(md5(gram), 1, 8)) AS BIGINT) % {b} AS bucket,
         count(*) AS c
  FROM g GROUP BY id, bucket
),
tot AS (SELECT id, sum(c) AS t FROM cnt GROUP BY id),
x AS MATERIALIZED (
  SELECT cnt.id, cnt.bucket, CAST(cnt.c AS DOUBLE) / tot.t * {b} AS x
  FROM cnt JOIN tot USING (id)
  UNION ALL
  SELECT id, {b} AS bucket, 1.0 AS x FROM sy
),
lab AS MATERIALIZED (
  SELECT id, lang AS y FROM sy
  WHERE CAST(('0x' || substr(md5(id), 1, 8)) AS BIGINT) % 100 < {percent}
),
xs AS MATERIALIZED (SELECT x.* FROM x JOIN lab ON x.id = lab.id),
n AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM lab),
w0 AS MATERIALIZED (
  SELECT y AS cls, bucket, 0.0 AS w
  FROM (SELECT DISTINCT y FROM lab) CROSS JOIN (SELECT unnest(range({b + 1})) AS bucket)
)"""
    steps = []
    for t in range(iters):
        steps.append(f"""
s{t} AS MATERIALIZED (
  SELECT xs.id, w.cls, sum(xs.x * w.w) AS s
  FROM xs JOIN w{t} w USING (bucket) GROUP BY xs.id, w.cls
),
p{t} AS MATERIALIZED (
  SELECT id, cls, exp(s) / sum(exp(s)) OVER (PARTITION BY id) AS p FROM s{t}
),
w{t + 1} AS MATERIALIZED (
  SELECT w{t}.cls, w{t}.bucket,
         w{t}.w - {lr!r} * coalesce(gr.g, 0.0) / (SELECT n FROM n) AS w
  FROM w{t} LEFT JOIN (
    SELECT r.cls, xs.bucket, sum(r.r * xs.x) AS g
    FROM (SELECT p.id, p.cls,
                 p.p - CASE WHEN lab.y = p.cls THEN 1.0 ELSE 0.0 END AS r
          FROM p{t} p JOIN lab ON lab.id = p.id) r
    JOIN xs ON xs.id = r.id
    GROUP BY r.cls, xs.bucket
  ) gr ON gr.cls = w{t}.cls AND gr.bucket = w{t}.bucket
)""")
    tail = f"""
, sf AS (
  SELECT x.id, w.cls, sum(x.x * w.w) AS s
  FROM x JOIN w{iters} w USING (bucket) GROUP BY x.id, w.cls
),
pf AS (
  SELECT id, cls, exp(s) / sum(exp(s)) OVER (PARTITION BY id) AS p FROM sf
)
SELECT id, cls AS pred_lang, round(p, 6) + 0.0 AS prob
FROM (SELECT *, row_number() OVER (
        PARTITION BY id ORDER BY p DESC, cls ASC) AS rn FROM pf)
WHERE rn = 1
"""
    return head + "," + ",".join(steps) + tail


ORACLE_LANG_ID_TRAINED = _lang_id_trained_oracle()


# The synthetic documents are single-line; the line-shaped gates chunk
# each doc's words into 8-word lines with the SAME positional rule on
# both engines (cf. the in-band language synthesis of lang_id_trained).
_LINE_W = 8


def _chunked_lines_col():
    """array<string> of 8-word lines from the documents text column."""
    words = F.filter(F.split(F.col("text"), r"\s+"), lambda w: w != "")
    n = F.size(words)
    n_lines = (F.floor((n + _LINE_W - 1) / _LINE_W)).cast("int")
    return F.when(n > 0, F.transform(
        F.sequence(F.lit(0), n_lines - 1),
        lambda i: F.concat_ws(" ", F.slice(words, i * _LINE_W + 1, _LINE_W)),
    )).otherwise(F.array().cast("array<string>"))


_LINES_SQL = (
    "list_transform(range(CAST(ceil(len(w) / {W}.0) AS BIGINT)), "
    "i -> array_to_string(w[i * {W} + 1 : i * {W} + {W}], ' '))"
).format(W=_LINE_W)

_WORDS_SQL = r"list_filter(string_split_regex(text, '\s+'), x -> x <> '')"


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet/C4-style global line dedup: docs chunked into 8-word
    lines, with planted duplicates — every doc_id%5 doc carries one
    shared sentinel line (only the smallest doc keeps it), every
    doc_id%7 doc carries the SAME line twice (within-doc repeat, the
    second copy always drops).  FULL value oracle: DuckDB replays the
    keep-first-(id,pos) rule and reassembles every surviving text."""
    d = load_table(spark, sf_dir, "documents")
    empty = F.array().cast("array<string>")
    lines = F.concat(
        _chunked_lines_col(),
        F.when(F.col("doc_id") % 5 == 0,
               F.array(F.lit("DUPLINE shared sentinel"))).otherwise(empty),
        F.when(F.col("doc_id") % 7 == 0,
               F.array(F.lit("TWICE twin line"),
                       F.lit("TWICE twin line"))).otherwise(empty),
    )
    synth = d.select("doc_id", F.concat_ws("\n", lines).alias("text"))
    return dedup.line_dedup(synth)


ORACLE_LINE_DEDUP = rf"""
WITH d AS (
  SELECT doc_id, CAST(doc_id AS VARCHAR) AS id, {_WORDS_SQL} AS w
  FROM documents
),
sy AS (
  SELECT doc_id, id,
         array_to_string(
           {_LINES_SQL}
           || (CASE WHEN doc_id % 5 = 0
                 THEN ['DUPLINE shared sentinel']
                 ELSE CAST([] AS VARCHAR[]) END)
           || (CASE WHEN doc_id % 7 = 0
                 THEN ['TWICE twin line', 'TWICE twin line']
                 ELSE CAST([] AS VARCHAR[]) END),
           chr(10)) AS t
  FROM d
),
l AS (
  SELECT doc_id, id, u.r['line'] AS line, u.r['pos'] AS pos
  FROM sy, unnest(list_transform(string_split(t, chr(10)),
                                 (x, i) -> {{'line': x, 'pos': i}})) AS u(r)
),
k AS (
  SELECT *, row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rn
  FROM l
)
SELECT id,
       coalesce(string_agg(CASE WHEN rn = 1 THEN line END,
                           chr(10) ORDER BY pos), '') AS text,
       CAST(count(*) AS INTEGER) AS n_lines,
       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS INTEGER) AS n_kept
FROM k GROUP BY id
"""


def q_dedup_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized-text dedup: docs come in planted triples — the same
    content as 'Hello, World! k' / 'hello   world k' / 'HELLO?? world.
    k' — that are byte-distinct but collapse to one normalized form
    (keep-first = the smallest doc_id); every 7th triple's first
    member instead carries the doc's natural text plus a tail, so
    survivors aren't all one variant class.  FULL value oracle: DuckDB
    replays the case-fold/punct-strip/whitespace-collapse chain and
    the keep-first rule."""
    d = load_table(spark, sf_dir, "documents")
    k = F.expr("doc_id div 3")
    v = F.col("doc_id") % 3
    synth_text = (
        F.when((v == 0) & (k % 7 == 0),
               F.concat(F.coalesce(F.col("text"), F.lit("")),
                        F.lit(" TAIL.")))
        .when(v == 0, F.concat(F.lit("Hello, World! "), k.cast("string")))
        .when(v == 1, F.concat(F.lit("hello   world "), k.cast("string")))
        .otherwise(F.concat(F.lit("HELLO?? world. "), k.cast("string"))))
    synth = d.select("doc_id", synth_text.alias("text"))
    out = dedup.drop_dups_normalized(synth)
    return out.select(F.col("doc_id").cast("string").alias("id"),
                      "text", "norm")


_NORM_SQL = (r"trim(regexp_replace(regexp_replace(lower({c}), "
             r"'[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g'))")

ORACLE_DEDUP_NORMALIZED = rf"""
WITH sy AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 AND (doc_id // 3) % 7 = 0
                THEN coalesce(text, '') || ' TAIL.'
              WHEN doc_id % 3 = 0
                THEN 'Hello, World! ' || CAST(doc_id // 3 AS VARCHAR)
              WHEN doc_id % 3 = 1
                THEN 'hello   world ' || CAST(doc_id // 3 AS VARCHAR)
              ELSE 'HELLO?? world. ' || CAST(doc_id // 3 AS VARCHAR)
         END AS text
  FROM documents
),
n AS (
  SELECT doc_id, text, {_NORM_SQL.format(c="text")} AS norm FROM sy
),
k AS (
  SELECT *, row_number() OVER (PARTITION BY norm ORDER BY doc_id) AS rn
  FROM n
)
SELECT CAST(doc_id AS VARCHAR) AS id, text, norm
FROM k WHERE rn = 1
"""


def q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-seen dedup over in-band crawl URLs: each group of four docs
    carries three variants of ONE logical URL (case-mangled scheme and
    host, default :80 port, trailing slash, utm_* tracking params,
    fragment) plus one distinct https URL — normalization collapses
    the variants, keep-first retains the smallest doc_id.  FULL value
    oracle: DuckDB replays every normalization step and the keep-first
    rule."""
    from presto_bloomfilter_spark.operators import web

    d = load_table(spark, sf_dir, "documents")
    g = F.expr("doc_id div 4").cast("string")
    v = F.col("doc_id") % 4
    url = (F.when(v == 0, F.concat(
               F.lit("http://EXAMPLE.com:80/a/b/?utm_source=x&q="), g,
               F.lit("#frag")))
           .when(v == 1, F.concat(F.lit("HTTP://example.COM/a/b?q="), g))
           .when(v == 2, F.concat(
               F.lit("http://example.com/a/b/?q="), g,
               F.lit("&utm_campaign=z")))
           .otherwise(F.concat(F.lit("https://Other.ORG:443/p/"), g)))
    synth = d.select("doc_id", url.alias("url"))
    out = web.url_dedup(synth)
    return out.select(F.col("doc_id").cast("string").alias("id"),
                      "url", "norm_url", "domain")


ORACLE_URL_DEDUP = r"""
WITH sy AS (
  SELECT doc_id,
         CASE WHEN doc_id % 4 = 0
                THEN 'http://EXAMPLE.com:80/a/b/?utm_source=x&q='
                     || CAST(doc_id // 4 AS VARCHAR) || '#frag'
              WHEN doc_id % 4 = 1
                THEN 'HTTP://example.COM/a/b?q='
                     || CAST(doc_id // 4 AS VARCHAR)
              WHEN doc_id % 4 = 2
                THEN 'http://example.com/a/b/?q='
                     || CAST(doc_id // 4 AS VARCHAR) || '&utm_campaign=z'
              ELSE 'https://Other.ORG:443/p/' || CAST(doc_id // 4 AS VARCHAR)
         END AS url
  FROM documents
),
p AS (
  SELECT doc_id, url,
         lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*://)', 1))
           AS scheme,
         regexp_replace(url, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS a
  FROM sy
),
q AS (
  SELECT doc_id, url, scheme,
         lower(regexp_extract(a, '^([^/?#]*)', 1)) AS host0,
         regexp_replace(regexp_replace(a, '^[^/?#]*', ''), '#.*$', '')
           AS tail,
         regexp_replace(lower(regexp_extract(a, '^([^/?#]*)', 1)),
                        ':[0-9]+$', '') AS domain
  FROM p
),
r AS (
  SELECT doc_id, url, scheme, domain,
         CASE WHEN scheme = 'http://'
                THEN regexp_replace(host0, ':80$', '')
              WHEN scheme = 'https://'
                THEN regexp_replace(host0, ':443$', '')
              ELSE host0 END AS host,
         regexp_extract(tail, '^([^?]*)', 1) AS path0,
         CASE WHEN contains(tail, '?')
              THEN regexp_replace(tail, '^[^?]*\?', '')
              ELSE '' END AS query
  FROM q
),
s AS (
  SELECT doc_id, url, domain,
         scheme || host
         || (CASE WHEN path0 <> '/'
                  THEN regexp_replace(path0, '/$', '')
                  ELSE path0 END)
         || (CASE WHEN kept <> '' THEN '?' || kept ELSE '' END) AS norm_url
  FROM (
    SELECT *,
           array_to_string(list_filter(string_split(query, '&'),
             x -> x <> '' AND NOT regexp_matches(x,
               '^(utm_[a-z]+|fbclid|gclid|msclkid|ref)=')), '&') AS kept
    FROM r
  )
),
k AS (
  SELECT *, row_number() OVER (PARTITION BY norm_url ORDER BY doc_id) AS rn
  FROM s
)
SELECT CAST(doc_id AS VARCHAR) AS id, url, norm_url, domain
FROM k WHERE rn = 1
"""


def q_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-skew triage over the events stream with a planted hot
    key (every third event remapped to key 999999 — ~33% of all rows
    on one key, the shape the salting escape hatches exist for): top-5
    heavy keys + exact count-distribution statistics.  FULL value
    oracle: DuckDB replays the count table, the histogram quantiles,
    and every moment statistic."""
    from presto_bloomfilter_spark.operators import diagnostics

    e = load_table(spark, sf_dir, "events")
    synth = e.select(
        F.when(F.col("event_id") % 3 == 0, F.lit(999999))
         .otherwise(F.col("user_id")).alias("k"))
    return diagnostics.key_skew(synth, "k", k=5)


ORACLE_KEY_SKEW = r"""
WITH s AS (
  SELECT CASE WHEN event_id % 3 = 0 THEN 999999 ELSE user_id END AS k
  FROM events
),
c AS (
  SELECT CAST(k AS VARCHAR) AS key, count(*) AS cnt
  FROM s WHERE k IS NOT NULL GROUP BY 1
),
t AS (
  SELECT CAST(sum(cnt) AS BIGINT) AS n_rows, count(*) AS n_keys,
         max(cnt) AS max_cnt, CAST(sum(cnt * cnt) AS BIGINT) AS sum_sq
  FROM c
),
h AS (SELECT cnt, count(*) AS nk FROM c GROUP BY cnt),
cu AS (SELECT cnt, sum(nk) OVER (ORDER BY cnt) AS cum FROM h),
p50 AS (SELECT min(cnt) AS p50_cnt FROM cu, t WHERE cum >= ceil(0.5 * n_keys)),
p99 AS (SELECT min(cnt) AS p99_cnt FROM cu, t WHERE cum >= ceil(0.99 * n_keys)),
top AS (
  SELECT key, cnt, row_number() OVER (ORDER BY cnt DESC, key) AS rank
  FROM c ORDER BY cnt DESC, key LIMIT 5
)
SELECT CAST(rank AS INTEGER) AS rank, key, cnt,
       CAST(cnt AS DOUBLE) / t.n_rows AS share,
       t.n_rows, t.n_keys,
       CAST(t.max_cnt AS DOUBLE) / t.n_rows AS max_share,
       p50.p50_cnt, p99.p99_cnt,
       sqrt(CAST(t.sum_sq AS DOUBLE) / t.n_keys
            - (CAST(t.n_rows AS DOUBLE) / t.n_keys)
              * (CAST(t.n_rows AS DOUBLE) / t.n_keys))
         / (CAST(t.n_rows AS DOUBLE) / t.n_keys) AS cv,
       CAST(t.max_cnt AS DOUBLE)
         / (CAST(t.n_rows AS DOUBLE) / t.n_keys) AS skew_ratio
FROM top, t, p50, p99
"""


_LR_LONG = "LONGDUP " * 8


def q_line_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher duplicate-line repetition rules over line-shaped docs:
    %3 docs gain a twice-repeated short line, %5 docs a twice-repeated
    64-char line (drives the char fraction), so short docs overshoot
    the 0.30/0.20 bounds and long ones absorb them — diverse verdicts
    with no per-scale tuning.  FULL value oracle: DuckDB replays both
    all-occurrence duplicate fractions and the verdict via the same
    nested list lambdas."""
    d = load_table(spark, sf_dir, "documents")
    empty = F.array().cast("array<string>")
    lines = F.concat(
        _chunked_lines_col(),
        F.when(F.col("doc_id") % 3 == 0,
               F.array(F.lit("REPEAT twin line"),
                       F.lit("REPEAT twin line"))).otherwise(empty),
        F.when(F.col("doc_id") % 5 == 0,
               F.array(F.lit(_LR_LONG), F.lit(_LR_LONG))).otherwise(empty),
    )
    synth = d.select("doc_id", F.concat_ws("\n", lines).alias("text"))
    return text.line_repetition(synth)


ORACLE_LINE_REPETITION = rf"""
WITH d AS (
  SELECT doc_id, CAST(doc_id AS VARCHAR) AS id, {_WORDS_SQL} AS w
  FROM documents
),
sy AS (
  SELECT doc_id, id,
         array_to_string(
           {_LINES_SQL}
           || (CASE WHEN doc_id % 3 = 0
                 THEN ['REPEAT twin line', 'REPEAT twin line']
                 ELSE CAST([] AS VARCHAR[]) END)
           || (CASE WHEN doc_id % 5 = 0
                 THEN ['{_LR_LONG}', '{_LR_LONG}']
                 ELSE CAST([] AS VARCHAR[]) END),
           chr(10)) AS t
  FROM d
),
m AS (SELECT id, string_split(t, chr(10)) AS ls FROM sy),
g AS (
  SELECT id,
         len(ls) AS n_lines,
         list_filter(ls, x -> len(list_filter(ls, y -> y = x)) > 1) AS dl,
         list_sum(list_transform(ls, x -> len(x))) AS tot
  FROM m
)
SELECT id,
       CAST(n_lines AS INTEGER) AS n_lines,
       CAST(len(dl) AS DOUBLE) / n_lines AS dup_line_frac,
       CASE WHEN tot > 0
            THEN CAST(coalesce(list_sum(list_transform(dl, x -> len(x))),
                               0) AS DOUBLE) / tot
            ELSE 0.0 END AS dup_char_frac,
       coalesce(CAST(len(dl) AS DOUBLE) / n_lines <= 0.3
                AND (CASE WHEN tot > 0
                     THEN CAST(coalesce(list_sum(list_transform(dl,
                                x -> len(x))), 0) AS DOUBLE) / tot
                     ELSE 0.0 END) <= 0.2, false) AS passes
FROM g
"""


_GOPHER_MIN_WORDS = 50


def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/MassiveWeb quality rules over line-shaped docs: the
    8-word-line chunking plus deterministic decorations — doc_id%9
    docs get a leading bullet line, %11 a trailing-ellipsis line, %13
    a symbol-heavy line, %3 a stopword tail — so every rule fires on a
    known doc subset and verdicts are diverse.  FULL value oracle:
    DuckDB recomputes all seven metrics and the conjunction."""
    d = load_table(spark, sf_dir, "documents")
    empty = F.array().cast("array<string>")
    lines = F.concat(
        F.when(F.col("doc_id") % 9 == 0,
               F.array(F.lit("- bullet item"))).otherwise(empty),
        _chunked_lines_col(),
        F.when(F.col("doc_id") % 11 == 0,
               F.array(F.lit("to be continued..."))).otherwise(empty),
        F.when(F.col("doc_id") % 13 == 0,
               F.array(F.lit("#### tags ####"))).otherwise(empty),
        F.when(F.col("doc_id") % 3 == 0,
               F.array(F.lit("the be to of and that have with"))
               ).otherwise(empty),
    )
    synth = d.select("doc_id", F.concat_ws("\n", lines).alias("text"))
    return text.gopher_rules(synth, min_words=_GOPHER_MIN_WORDS)


_GOPHER_STOP_SQL = "['the','be','to','of','and','that','have','with']"

ORACLE_GOPHER_RULES = rf"""
WITH d AS (
  SELECT doc_id, CAST(doc_id AS VARCHAR) AS id, {_WORDS_SQL} AS w
  FROM documents
),
sy AS (
  SELECT doc_id, id,
         array_to_string(
           (CASE WHEN doc_id % 9 = 0 THEN ['- bullet item']
                 ELSE CAST([] AS VARCHAR[]) END)
           || {_LINES_SQL}
           || (CASE WHEN doc_id % 11 = 0 THEN ['to be continued...']
                 ELSE CAST([] AS VARCHAR[]) END)
           || (CASE WHEN doc_id % 13 = 0 THEN ['#### tags ####']
                 ELSE CAST([] AS VARCHAR[]) END)
           || (CASE WHEN doc_id % 3 = 0
                 THEN ['the be to of and that have with']
                 ELSE CAST([] AS VARCHAR[]) END),
           chr(10)) AS t
  FROM d
),
m AS (
  SELECT id,
         list_filter(string_split_regex(t, '\s+'), x -> x <> '') AS words,
         string_split(t, chr(10)) AS lines,
         len(t) - len(replace(t, '#', '')) AS nh,
         (len(t) - len(replace(t, '...', ''))) / 3 AS nd,
         len(t) - len(replace(t, '…', '')) AS nu
  FROM sy
),
g AS (
  SELECT id,
         CAST(len(words) AS INTEGER) AS n_words,
         CAST(list_sum(list_transform(words, x -> len(x))) AS DOUBLE)
           / nullif(CAST(len(words) AS DOUBLE), 0.0) AS mean_word_len,
         CAST(nh + nd + nu AS DOUBLE)
           / nullif(CAST(len(words) AS DOUBLE), 0.0) AS symbol_ratio,
         CAST(len(list_filter(lines, x ->
               starts_with(ltrim(x), '•') OR starts_with(ltrim(x), '-')
               OR starts_with(ltrim(x), '*'))) AS DOUBLE)
           / len(lines) AS bullet_line_frac,
         CAST(len(list_filter(lines, x ->
               ends_with(rtrim(x), '...') OR ends_with(rtrim(x), '…')))
              AS DOUBLE) / len(lines) AS ellipsis_line_frac,
         CAST(len(list_filter(words, x -> regexp_matches(x, '[a-zA-Z]')))
              AS DOUBLE)
           / nullif(CAST(len(words) AS DOUBLE), 0.0) AS alpha_word_frac,
         CAST(len(list_intersect(list_distinct(words), {_GOPHER_STOP_SQL}))
              AS INTEGER) AS n_stopwords
  FROM m
)
SELECT *,
       coalesce(n_words BETWEEN {_GOPHER_MIN_WORDS} AND 100000
                AND mean_word_len BETWEEN 3.0 AND 10.0
                AND symbol_ratio <= 0.1
                AND bullet_line_frac <= 0.9
                AND ellipsis_line_frac <= 0.3
                AND alpha_word_frac >= 0.8
                AND n_stopwords >= 2, false) AS passes
FROM g
"""


_C4_MIN_SENTENCES = 5

# decorated 8-word chunking: every EVEN-indexed line gains a terminal
# '.' (range()/F.transform indices are both 0-based), so line survival
# is diverse instead of all-drop
_C4_LINES_SQL = (
    "list_transform(range(CAST(ceil(len(w) / {W}.0) AS BIGINT)), "
    "i -> array_to_string(w[i * {W} + 1 : i * {W} + {W}], ' ') || "
    "(CASE WHEN i % 2 = 0 THEN '.' ELSE '' END))"
).format(W=_LINE_W)

_C4_DECOR = (
    (2, "Please enable javascript to continue."),   # drops: javascript
    (3, "We use cookies and our privacy policy applies."),  # drops: policy
    (5, "Too short."),                                # drops: < 3 words
    (7, "Lorem Ipsum dolor sit amet consectetur."),   # kept line, doc flag
    (11, "if (x) { return 1; }"),                     # brace doc flag
)


def q_c4_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 line-level cleaning rules over line-shaped docs: 8-word
    chunks where even-indexed lines end in '.', plus per-modulus
    decorations so every rule fires on a known subset — a javascript
    line (%2), a policy line (%3), a too-short line (%5), a kept
    lorem-ipsum line flagging the doc (%7), a brace line (%11).  FULL
    value oracle: DuckDB replays every line decision, the cleaned
    reassembly, the sentence count, and the verdict."""
    d = load_table(spark, sf_dir, "documents")
    empty = F.array().cast("array<string>")
    base = F.transform(
        _chunked_lines_col(),
        lambda l, i: F.when(i % 2 == 0, F.concat(l, F.lit("."))).otherwise(l))
    parts = [base]
    for mod, line in _C4_DECOR:
        parts.append(F.when(F.col("doc_id") % mod == 0,
                            F.array(F.lit(line))).otherwise(empty))
    synth = d.select(
        "doc_id", F.concat_ws("\n", F.concat(*parts)).alias("text"))
    return text.c4_rules(synth, min_sentences=_C4_MIN_SENTENCES)


_C4_DECOR_SQL = "\n           ".join(
    "|| (CASE WHEN doc_id % {m} = 0 THEN ['{l}'] "
    "ELSE CAST([] AS VARCHAR[]) END)".format(
        m=mod, l=line.replace("{", "{{").replace("}", "}}"))
    for mod, line in _C4_DECOR)

_C4_KEEP_SQL = r"""(ends_with(rtrim(l), '.') OR ends_with(rtrim(l), '!')
             OR ends_with(rtrim(l), '?') OR ends_with(rtrim(l), '"'))
         AND len(list_filter(string_split_regex(l, '\s+'),
                             x -> x <> '')) >= 3
         AND NOT (contains(lower(l), 'javascript')
                  OR contains(lower(l), 'terms of use')
                  OR contains(lower(l), 'privacy policy')
                  OR contains(lower(l), 'cookie policy')
                  OR contains(lower(l), 'uses cookies')
                  OR contains(lower(l), 'use of cookies')
                  OR contains(lower(l), 'use cookies'))"""

ORACLE_C4_RULES = rf"""
WITH d AS (
  SELECT doc_id, CAST(doc_id AS VARCHAR) AS id, {_WORDS_SQL} AS w
  FROM documents
),
sy AS (
  SELECT doc_id, id,
         array_to_string(
           {_C4_LINES_SQL}
           {_C4_DECOR_SQL},
           chr(10)) AS t
  FROM d
),
m AS (
  SELECT id, t,
         string_split(t, chr(10)) AS lines,
         list_filter(string_split(t, chr(10)), l ->
         {_C4_KEEP_SQL}) AS kept
  FROM sy
),
c AS (
  SELECT id, t, lines, kept,
         array_to_string(kept, chr(10)) AS clean
  FROM m
)
SELECT id,
       clean AS text,
       CAST(len(lines) AS INTEGER) AS n_lines,
       CAST(len(kept) AS INTEGER) AS n_kept,
       CAST((len(clean) - len(replace(clean, '.', '')))
            + (len(clean) - len(replace(clean, '!', '')))
            + (len(clean) - len(replace(clean, '?', ''))) AS INTEGER)
         AS n_sentences,
       contains(lower(t), 'lorem ipsum') AS has_lorem,
       contains(t, '{{') AS has_brace,
       coalesce(NOT contains(lower(t), 'lorem ipsum')
                AND NOT contains(t, '{{')
                AND ((len(clean) - len(replace(clean, '.', '')))
                     + (len(clean) - len(replace(clean, '!', '')))
                     + (len(clean) - len(replace(clean, '?', ''))))
                    >= {_C4_MIN_SENTENCES}, false) AS passes
FROM c
"""


_Z_BITS = 8
_Z_NB = 16


def _z_interleave_sql(a: str, b: str, bits: int) -> str:
    """Unrolled Morton interleave: dim a at even bit positions, dim b
    at odd — the exact bit layout of layout._interleave for D=2."""
    terms = []
    for j in range(bits):
        terms.append(f"((({a} >> {j}) & 1) << {2 * j})")
        terms.append(f"((({b} >> {j}) & 1) << {2 * j + 1})")
    return "\n         + ".join(terms)


def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout clustering of the orders table on
    (o_custkey, o_totalprice): exact rank-normalized 8-bit levels,
    Morton interleave, bucket = the key's high 4 bits — then the
    per-bucket bounding boxes that make min/max scan pruning work.
    FULL value oracle: DuckDB replays the dense ranks, the integer
    scaling, the 16-term bit interleave, and every bucket bbox."""
    from presto_bloomfilter_spark.operators import layout

    o = load_table(spark, sf_dir, "orders")
    z = layout.zorder_layout(o, ["o_custkey", "o_totalprice"],
                             n_buckets=_Z_NB, bits=_Z_BITS)
    return z.groupBy("zbucket").agg(
        F.count("*").alias("cnt"),
        F.min("o_custkey").alias("min_ck"),
        F.max("o_custkey").alias("max_ck"),
        F.min("o_totalprice").alias("min_tp"),
        F.max("o_totalprice").alias("max_tp"),
    )


ORACLE_ZORDER_LAYOUT = rf"""
WITH da AS (SELECT DISTINCT o_custkey AS v FROM orders
            WHERE o_custkey IS NOT NULL),
db AS (SELECT DISTINCT o_totalprice AS v FROM orders
       WHERE o_totalprice IS NOT NULL),
la AS (SELECT v, ((row_number() OVER (ORDER BY v) - 1) * {1 << _Z_BITS})
                 // (SELECT count(*) FROM da) AS lvl FROM da),
lb AS (SELECT v, ((row_number() OVER (ORDER BY v) - 1) * {1 << _Z_BITS})
                 // (SELECT count(*) FROM db) AS lvl FROM db),
r AS (
  SELECT o.o_custkey, o.o_totalprice,
         coalesce(la.lvl, 0) AS l0, coalesce(lb.lvl, 0) AS l1
  FROM orders o
  LEFT JOIN la ON o.o_custkey = la.v
  LEFT JOIN lb ON o.o_totalprice = lb.v
),
z AS (
  SELECT *,
         {_z_interleave_sql("l0", "l1", _Z_BITS)} AS zkey
  FROM r
)
SELECT CAST(zkey >> {2 * _Z_BITS - (_Z_NB.bit_length() - 1)} AS INTEGER)
         AS zbucket,
       count(*) AS cnt,
       min(o_custkey) AS min_ck, max(o_custkey) AS max_ck,
       min(o_totalprice) AS min_tp, max(o_totalprice) AS max_tp
FROM z GROUP BY zbucket
"""


_ENTROPY_MIN = 2.0


def q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-entropy quality signal (compression-ratio proxy) with
    planted low-entropy docs: %6==0 → one repeated char (0 bits),
    %6==1 → two alternating chars (1 bit), %6==2 → empty; the rest
    keep their natural text (~4+ bits, passes).  FULL value oracle:
    DuckDB rebuilds every per-doc code-point histogram and replays
    entropy, modal share, and the verdict."""
    d = load_table(spark, sf_dir, "documents")
    synth = d.select(
        "doc_id",
        F.when(F.col("doc_id") % 6 == 0, F.repeat(F.lit("a"), 40))
         .when(F.col("doc_id") % 6 == 1, F.repeat(F.lit("ab"), 20))
         .when(F.col("doc_id") % 6 == 2, F.lit(""))
         .otherwise(F.col("text")).alias("text"))
    return text.char_entropy(synth, min_entropy=_ENTROPY_MIN)


ORACLE_CHAR_ENTROPY = rf"""
WITH d AS (
  SELECT CAST(doc_id AS VARCHAR) AS id,
         CASE WHEN doc_id % 6 = 0 THEN repeat('a', 40)
              WHEN doc_id % 6 = 1 THEN repeat('ab', 20)
              WHEN doc_id % 6 = 2 THEN ''
              ELSE text END AS t
  FROM documents
),
c AS (SELECT id, t, len(t) AS n FROM d),
h AS (
  SELECT c.id, c.n, u.ch AS ch, count(*) AS cnt
  FROM c, unnest(string_split_regex(t, '')) AS u(ch)
  WHERE c.n > 0
  GROUP BY c.id, c.n, u.ch
),
e AS (
  SELECT id,
         CAST(count(*) AS INTEGER) AS distinct_chars,
         0.0 + (-sum((cnt / CAST(n AS DOUBLE))
                     * log2(cnt / CAST(n AS DOUBLE)))) AS entropy,
         max(cnt) / CAST(n AS DOUBLE) AS max_char_frac
  FROM h GROUP BY id, n
)
SELECT c.id,
       CAST(c.n AS INTEGER) AS n_chars,
       coalesce(e.distinct_chars, 0) AS distinct_chars,
       coalesce(e.entropy, 0.0) AS entropy,
       coalesce(e.max_char_frac, 0.0) AS max_char_frac,
       coalesce(e.entropy >= {_ENTROPY_MIN}, false) AS passes
FROM c LEFT JOIN e ON c.id = e.id
"""


def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture rebalancing over the skewed tokens corpus (web≈70%
    downsampled hard, minority sources kept): per-source deterministic
    md5 keep-rates, map-only predicate, full value oracle."""
    tokens = load_tokens(spark, sf_dir)
    sampled = sampling.sample_mixture(
        tokens, {"web": 5, "books": 25, "code": 50, "wiki": 75}, key_col="doc_id")
    return sampled.select(F.col("doc_id").alias("id"), "source")


ORACLE_MIXTURE_SAMPLE = f"""
SELECT doc_id AS id, source FROM {_TOKENS_SQL}
WHERE CAST(('0x' || substr(md5(doc_id), 1, 8)) AS BIGINT) % 100 <
      CASE source WHEN 'web' THEN 5 WHEN 'books' THEN 25
                  WHEN 'code' THEN 50 WHEN 'wiki' THEN 75 ELSE 0 END
"""


_PLAN_WEIGHTS = {"web": 0.4, "books": 0.3, "code": 0.2, "wiki": 0.1}
_PLAN_BUDGET = 500_000


def q_plan_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture planning over the skewed tokens corpus: target weights
    for four sources (any fifth source exercises the absent-weight →
    rate-0 path), 500k-token budget; integer-division rates cap at 100
    (no upsampling) at every scale.  FULL value oracle: DuckDB replays
    the one double multiply and all integer arithmetic — the oracle
    CASTs its literals to DOUBLE so both engines floor the identical
    product."""
    tokens = load_tokens(spark, sf_dir)
    return sampling.plan_mixture(tokens, _PLAN_WEIGHTS, _PLAN_BUDGET)


_PLAN_W_SQL = " ".join(
    f"WHEN '{s}' THEN CAST({w} AS DOUBLE)" for s, w in _PLAN_WEIGHTS.items())

ORACLE_PLAN_MIXTURE = f"""
WITH per AS (
  SELECT source, CAST(sum(n_tok) AS BIGINT) AS tokens
  FROM {_TOKENS_SQL} GROUP BY source
),
w AS (
  SELECT source, tokens,
         CASE source {_PLAN_W_SQL} ELSE CAST(0 AS DOUBLE) END AS weight
  FROM per
),
t AS (
  SELECT *, CAST(floor(CAST({_PLAN_BUDGET} AS DOUBLE) * weight) AS BIGINT)
              AS target_tokens
  FROM w
),
r AS (
  SELECT *, CAST(CASE WHEN tokens > 0
                      THEN least(100, (100 * target_tokens) // tokens)
                      ELSE 0 END AS INTEGER) AS rate_pct
  FROM t
)
SELECT source, tokens, weight, target_tokens, rate_pct,
       CAST((tokens * rate_pct) // 100 AS BIGINT) AS expected_tokens
FROM r
"""


def q_bottom_k_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size deterministic sample: bottom-25 by md5(doc_id) — a
    KMV bottom-k whose estimate IS the sample; executes as
    per-partition top-k + k-row merge (plan-asserted in pytest), full
    value oracle including the hex priorities."""
    d = load_table(spark, sf_dir, "documents")
    sample = sampling.bottom_k_sample(
        d.select(F.col("doc_id").cast("string").alias("doc_id"), "source"),
        "doc_id", 25)
    return sample.select(F.col("doc_id").alias("id"), "source", "pr")


ORACLE_BOTTOM_K_SAMPLE = """
SELECT CAST(doc_id AS VARCHAR) AS id, source, md5(CAST(doc_id AS VARCHAR)) AS pr
FROM documents ORDER BY pr LIMIT 25
"""


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style concat-and-chunk packing of the tokens corpus into
    512-token training sequences with EOS separators.  Map-only, no
    shuffle after the deterministic repartition; invariants asserted
    in-band: exact token conservation (value-checked cross-engine),
    every sequence ≤ L, ≤1 short remainder per partition, sequence
    count inside the [ceil(T/L), floor(T/L)+P] envelope."""
    tokens = load_tokens(spark, sf_dir)
    P, L = 8, 512
    packed = packing.pack_concat_chunks(
        tokens.repartition(P, "doc_id"), L, eos_id=50256)
    t = F.sum("n_tok")
    return packed.agg(
        t.cast("long").alias("total_tokens_out"),
        (F.max("n_tok") <= L).alias("all_le_max"),
        (F.sum((F.col("n_tok") < L).cast("int")) <= P).alias("n_short_ok"),
        (
            (F.count("*") >= F.ceil(t / F.lit(L)))
            & (F.count("*") <= F.floor(t / F.lit(L)) + P)
        ).alias("n_seqs_ok"),
    )


ORACLE_PACK_SEQUENCES = f"""
SELECT CAST(SUM(n_tok) + COUNT(*) AS BIGINT) AS total_tokens_out,
       TRUE AS all_le_max, TRUE AS n_short_ok, TRUE AS n_seqs_ok
FROM {_TOKENS_SQL}
"""


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = [
        (r.vec_id, list(r.embedding))
        for r in emb.orderBy("vec_id").limit(5).collect()
    ]
    return similarity.cosine_topk(spark, emb, queries, k=10)


ORACLE_ANN_COSINE_TOPK = """
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings ORDER BY vec_id LIMIT 5),
s AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         list_cosine_similarity(CAST(q.qv AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])) AS sim
  FROM q, embeddings e WHERE e.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, CAST(rn AS INTEGER) AS rank FROM (
  SELECT query_id, neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rn
  FROM s
) WHERE rn <= 10
"""


def _ann_recall_check(spark: SparkSession, emb: DataFrame, approx: DataFrame,
                      queries, min_recall: float = 0.6) -> DataFrame:
    """(query_id, recall_ok): recall@10 of an approximate ANN result vs
    the in-Spark exact baseline — the boolean-assert pattern for
    non-SQL-expressible operators (oracle returns TRUE per query).
    Deterministic: fixed seeds, fixed data, deterministic tie-breaks."""
    exact = similarity.cosine_topk(spark, emb, queries, k=10)
    hits = exact.join(
        approx.select("query_id", "neighbor_id").withColumn("__hit", F.lit(1)),
        ["query_id", "neighbor_id"],
        "left",
    )
    return hits.groupBy("query_id").agg(
        (F.sum(F.coalesce(F.col("__hit"), F.lit(0))) / F.count("*") >= F.lit(min_recall)).alias(
            "recall_ok"
        )
    )


ORACLE_ANN_RECALL = """
SELECT query_id, TRUE AS recall_ok FROM (
  SELECT vec_id AS query_id FROM embeddings ORDER BY vec_id LIMIT 5
)
"""


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH ANN (one map-only job for all queries): per-query
    recall@10 >= 0.6 vs the exact baseline, asserted as a boolean.
    bits/probe_radius are DATA-DERIVED (adaptive_lsh_params: bits ≈
    log2(n/64), radius 2), so the same call holds the bound at every
    PBS_GATE_SF_DIR scale — no per-scale calibration."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = [(r.vec_id, list(r.embedding)) for r in emb.orderBy("vec_id").limit(5).collect()]
    approx = similarity.lsh_topk(spark, emb, queries, k=10)
    return _ann_recall_check(spark, emb, approx, queries)


def q_ann_lsh_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH ANN against a MATERIALIZED index
    (write_lsh_index → parquet partitioned-by(bucket) →
    lsh_topk_indexed partition-pruned probe): same probe-set
    construction as ann_lsh, so the same recall bound holds — the
    standing-index path a real corpus uses.  The build picks
    data-derived bits and records them in the index's _pbs_meta
    sidecar; the probe reads them back, so neither side hardcodes a
    per-scale constant."""
    import tempfile

    emb = load_table(spark, sf_dir, "embeddings")
    queries = [(r.vec_id, list(r.embedding)) for r in emb.orderBy("vec_id").limit(5).collect()]
    path = tempfile.mkdtemp(prefix="pbs_lsh_idx_") + "/index"
    similarity.write_lsh_index(emb, path, seed=7)
    approx = similarity.lsh_topk_indexed(spark, path, queries, k=10)
    return _ann_recall_check(spark, emb, approx, queries)


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (spherical-kmeans coarse quantizer, nprobe inverted
    lists, one map-only job for all queries): per-query recall@10 >= 0.6
    vs the exact baseline, asserted as a boolean.  n_lists/nprobe are
    DATA-DERIVED (adaptive_ivf_params: n_lists ≈ sqrt(n), nprobe =
    0.6*n_lists), so the bound holds at every PBS_GATE_SF_DIR scale —
    no per-scale calibration."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = [(r.vec_id, list(r.embedding)) for r in emb.orderBy("vec_id").limit(5).collect()]
    approx = similarity.ivf_topk(spark, emb, queries, k=10)
    return _ann_recall_check(spark, emb, approx, queries)


def q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN, the production shape: codebook trained
    on a bounded sample, corpus encoded to m=16 uint8 codes (16x
    smaller than the float vectors), ADC table-gather scan shortlists
    5k candidates per query, exact re-rank restores recall.  Per-query
    recall@10 >= 0.6 vs the exact baseline, asserted as a boolean
    (measured 0.8-1.0 at these settings on sf0.01 — the synthetic
    embeddings are near-random, the hardest case for quantization)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = [(r.vec_id, list(r.embedding)) for r in emb.orderBy("vec_id").limit(5).collect()]
    cb = similarity.pq_train(emb, m=16, ksub=256, sample_rows=2_000, seed=7)
    codes = similarity.pq_encode(emb, cb)
    approx = similarity.pq_topk(spark, codes, cb, queries, k=10,
                                rerank_with=emb, shortlist_factor=5)
    return _ann_recall_check(spark, emb, approx, queries)


def q_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ against a MATERIALIZED index (write_ivfpq_index →
    parquet partitioned-by(list_id) holding only uint8 codes →
    partition-pruned ADC probe + exact re-rank): the 10^12-vector ANN
    shape — probe cost shrinks on both the pruning axis (nprobe /
    n_lists) and the compression axis (codes vs floats).  Per-query
    recall@10 >= 0.6 booleans vs the exact baseline."""
    import tempfile

    emb = load_table(spark, sf_dir, "embeddings")
    queries = [(r.vec_id, list(r.embedding)) for r in emb.orderBy("vec_id").limit(5).collect()]
    rows = emb.orderBy("vec_id").limit(2_000).collect()
    import numpy as np

    mat = np.array([list(r.embedding) for r in rows], dtype=np.float64)
    cents = similarity.spherical_kmeans(mat, n_lists=8, seed=7)
    cb = similarity.pq_train(emb, m=16, ksub=256, sample_rows=2_000, seed=7)
    path = tempfile.mkdtemp(prefix="pbs_ivfpq_") + "/index"
    similarity.write_ivfpq_index(emb, cents, cb, path)
    approx = similarity.ivfpq_topk(
        spark, path, cents, cb, queries, k=10, nprobe=5,
        rerank_with=emb, shortlist_factor=5)
    return _ann_recall_check(spark, emb, approx, queries)


def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    media = multimodal.attach_media(docs, "text", "doc_id")
    return multimodal.extract_metadata(media)


ORACLE_MULTIMODAL_META = """
SELECT CAST(doc_id AS VARCHAR) AS id,
       CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
       CAST(CASE WHEN octet_length(encode(text)) = 0 THEN 0
                 ELSE ascii(substr(text, 1, 1)) END AS INTEGER) AS first_byte,
       CAST(octet_length(encode(text)) % 640 + 1 AS INTEGER) AS fake_width,
       CAST(octet_length(encode(text)) % 480 + 1 AS INTEGER) AS fake_height
FROM documents
"""


def q_multimodal_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode, cross-engine-checked: synthesize a PNG per
    document whose dimensions derive from the text length (width =
    len%64+8, height = len%48+8, content seeded from the dims), run it
    through extract_metadata_image (PIL or the stdlib PNG codec —
    whichever this runtime has), and emit the decoded dimensions.  The
    oracle recomputes the expected dimensions from ``length(text)`` in
    pure SQL, so a decoder that misreads IHDR or pixel layout fails the
    value hash."""
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    from ..functions import png_codec as pc  # noqa: PLC0415
    from ..operators import multimodal as mm  # noqa: PLC0415

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def make_png(it):
        for pdf in it:
            payloads = []
            for t in pdf["text"]:
                n = len(t)
                w, h = n % 64 + 8, n % 48 + 8
                rng = np.random.default_rng(n)
                payloads.append(pc.png_encode(
                    rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)))
            yield pd.DataFrame({"id": pdf["doc_id"].astype(str), "media": payloads})

    media = docs.mapInPandas(make_png, "id string, media binary")
    meta = mm.extract_metadata_image(media)
    return meta.select(
        F.col("id"),
        F.col("width").cast("int").alias("width"),
        F.col("height").cast("int").alias("height"),
        F.col("mode").alias("mode"),
    )


ORACLE_MULTIMODAL_PNG_DECODE = """
SELECT CAST(doc_id AS VARCHAR) AS id,
       CAST(length(text) % 64 + 8 AS INTEGER) AS width,
       CAST(length(text) % 48 + 8 AS INTEGER) AS height,
       'RGB' AS mode
FROM documents
"""


def q_multimodal_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL JPEG decode (the dominant crawl format), cross-engine-
    checked: synthesize a JFIF JPEG per document (smooth gradient
    seeded from the text length, dims = len%48+8 x len%32+8) —
    BASELINE SOF0 for even text lengths, PROGRESSIVE SOF2 (DC+AC
    successive approximation, spectral-band scans, refinement
    correction bits) for odd — run it through extract_metadata_image
    (PIL or the stdlib codec), and ALSO decode the pixels: the
    reconstruction must track the encoded gradient (mean abs error
    < 8 at quality 90) and every progressive decode must be
    PIXEL-IDENTICAL to the baseline decode of the same image (same
    quantized coefficients, different scan order).  The oracle
    recomputes dims and the progressive flag from length(text) in
    pure SQL; a decoder that misparses SOF, huffman tables, scan
    scripts, or refinement bits fails the dims, the bound, or the
    identity."""
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    from ..functions import jpeg_codec as jc  # noqa: PLC0415
    from ..operators import multimodal as mm  # noqa: PLC0415

    docs = (load_table(spark, sf_dir, "documents")
            .select("doc_id", "text").orderBy("doc_id").limit(256))

    def gradient(w: int, h: int) -> "np.ndarray":
        gx = np.linspace(0, 255, w)[None, :]
        gy = np.linspace(0, 255, h)[:, None]
        r = np.broadcast_to(gx, (h, w))
        g = np.broadcast_to(gy, (h, w))
        b = np.broadcast_to((gx + gy) / 2, (h, w))
        return np.stack([r, g, b], axis=-1).astype(np.uint8)

    def make_jpeg(it):
        for pdf in it:
            payloads, ok, progs = [], [], []
            for t in pdf["text"]:
                n = len(t)
                w, h = n % 48 + 8, n % 32 + 8
                img = gradient(w, h)
                prog = bool(n % 2)
                if prog:
                    blob = jc.jpeg_encode_progressive(img, quality=90)
                else:
                    blob = jc.jpeg_encode(img, quality=90)
                dec = jc.jpeg_decode(blob)
                err = float(np.abs(dec.astype(np.float64) - img).mean())
                good = dec.shape == img.shape and err < 8.0
                if prog and good:
                    base = jc.jpeg_decode(jc.jpeg_encode(img, quality=90))
                    good = np.array_equal(dec, base)
                payloads.append(blob)
                ok.append(bool(good))
                progs.append(prog)
            yield pd.DataFrame({"id": pdf["doc_id"].astype(str),
                                "media": payloads, "pixels_ok": ok,
                                "progressive": progs})

    media = docs.mapInPandas(
        make_jpeg,
        "id string, media binary, pixels_ok boolean, progressive boolean")
    meta = mm.extract_metadata_image(media.select("id", "media"))
    return meta.join(
        media.select("id", "pixels_ok", "progressive"), "id").select(
        "id",
        F.col("width").cast("int").alias("width"),
        F.col("height").cast("int").alias("height"),
        F.col("mode").alias("mode"),
        "pixels_ok",
        "progressive",
    )


ORACLE_MULTIMODAL_JPEG_DECODE = """
SELECT CAST(doc_id AS VARCHAR) AS id,
       CAST(length(text) % 48 + 8 AS INTEGER) AS width,
       CAST(length(text) % 32 + 8 AS INTEGER) AS height,
       'RGB' AS mode,
       TRUE AS pixels_ok,
       CAST(length(text) % 2 = 1 AS BOOLEAN) AS progressive
FROM (SELECT * FROM documents ORDER BY doc_id LIMIT 256)
"""


def q_multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode + feature extraction, cross-engine-checked:
    synthesize a 16-bit mono square-wave WAV per document whose
    geometry derives from length(text) (rate = 8000 + n%3*4000,
    amplitude = (n%50+1)*300, half-period = n%7+2 frames, n_frames =
    2*period*(n%20+4)), run extract_metadata_audio + audio_features
    (operators/multimodal.py over the stdlib RIFF codec,
    functions/wav_codec.py), and emit the decoded header fields and
    features.  A square wave makes every feature INTEGER-EXACT in
    native sample units (rms = peak = amplitude; crossings =
    n_frames/period - 1), so the oracle recomputes all of them from
    length(text) in pure SQL and a decoder that misparses fmt/data or
    mis-scales samples fails the value hash."""
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    from ..functions import wav_codec as wc  # noqa: PLC0415
    from ..operators import multimodal as mm  # noqa: PLC0415

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def make_wav(it):
        for pdf in it:
            payloads = []
            for t in pdf["text"]:
                n = len(t)
                rate = 8_000 + (n % 3) * 4_000
                amp = (n % 50 + 1) * 300
                period = n % 7 + 2
                n_frames = 2 * period * (n % 20 + 4)
                t_ax = np.arange(n_frames)
                sq = np.where((t_ax // period) % 2 == 0, amp, -amp)
                payloads.append(wc.wav_encode(sq, rate, 16))
            yield pd.DataFrame({"id": pdf["doc_id"].astype(str),
                                "media": payloads})

    media = docs.mapInPandas(make_wav, "id string, media binary")
    meta = mm.extract_metadata_audio(media).select(
        "id", "sample_rate", "n_frames", "duration_s")
    feats = mm.audio_features(media).select("id", "rms", "peak", "zcr")
    return meta.join(feats, "id")


ORACLE_MULTIMODAL_AUDIO_FEATURES = """
SELECT CAST(doc_id AS VARCHAR) AS id,
       CAST(8000 + (n % 3) * 4000 AS INTEGER) AS sample_rate,
       CAST(nf AS BIGINT) AS n_frames,
       CAST(nf AS DOUBLE) / (8000 + (n % 3) * 4000) AS duration_s,
       CAST((n % 50 + 1) * 300 AS DOUBLE) AS rms,
       CAST((n % 50 + 1) * 300 AS DOUBLE) AS peak,
       CAST(2 * (n % 20 + 4) - 1 AS DOUBLE) / (nf - 1) AS zcr
FROM (SELECT doc_id, length(text) AS n,
             2 * (length(text) % 7 + 2) * (length(text) % 20 + 4) AS nf
      FROM documents)
"""


def q_multimodal_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video parse + frame sampling, cross-engine-checked:
    synthesize a C420 .y4m per document (dims (n%16+4)*2 x (n%12+3)*2,
    n%6+3 frames, frame i's Y plane constant (n + 13*i)%256, chroma
    constant 128/64), sample every 2nd frame through frame_sample_video
    (operators/multimodal.py over functions/y4m_codec.py — unsampled
    frames are never decoded), and emit per-frame dims + plane means.
    The oracle regenerates the sampled frame indices with
    generate_series and recomputes the exact constant-plane means from
    length(text) in pure SQL."""
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    from ..functions import y4m_codec as yc  # noqa: PLC0415
    from ..operators import multimodal as mm  # noqa: PLC0415

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def make_y4m(it):
        for pdf in it:
            payloads = []
            for t in pdf["text"]:
                n = len(t)
                w, h = (n % 16 + 4) * 2, (n % 12 + 3) * 2
                frames = []
                for i in range(n % 6 + 3):
                    frames.append((
                        np.full((h, w), (n + 13 * i) % 256, np.uint8),
                        np.full((h // 2, w // 2), 128, np.uint8),
                        np.full((h // 2, w // 2), 64, np.uint8)))
                payloads.append(yc.y4m_encode(frames, fps=(30, 1)))
            yield pd.DataFrame({"id": pdf["doc_id"].astype(str),
                                "media": payloads})

    media = docs.mapInPandas(make_y4m, "id string, media binary")
    return mm.frame_sample_video(media, every_n=2).select(
        "id", "frame_idx", "width", "height", "y_mean", "cb_mean", "cr_mean")


ORACLE_MULTIMODAL_VIDEO_FRAMES = """
SELECT CAST(doc_id AS VARCHAR) AS id,
       CAST(fi AS INTEGER) AS frame_idx,
       CAST((n % 16 + 4) * 2 AS INTEGER) AS width,
       CAST((n % 12 + 3) * 2 AS INTEGER) AS height,
       CAST((n + 13 * fi) % 256 AS DOUBLE) AS y_mean,
       CAST(128 AS DOUBLE) AS cb_mean,
       CAST(64 AS DOUBLE) AS cr_mean
FROM (SELECT doc_id, length(text) AS n,
             UNNEST(generate_series(0, length(text) % 6 + 2, 2)) AS fi
      FROM documents)
"""


def _contamination_split(spark: SparkSession, sf_dir: str):
    """Deterministic md5-bucket train/test split of the documents table
    (same engine-portable predicate as hash_sample): bucket < 10 is the
    'evaluation set', the rest is the 'training corpus'."""
    from presto_bloomfilter_spark.operators.sampling import md5_bucket

    d = load_table(spark, sf_dir, "documents")
    bucket = md5_bucket("doc_id", 100)
    return d.filter(bucket >= 10), d.filter(bucket < 10)


def q_contamination_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    train, test = _contamination_split(spark, sf_dir)
    return contamination.contamination_exact(train, test, "text", "doc_id", n=3)


_CONTAM_CTE = """
WITH w AS (
  SELECT CAST(doc_id AS VARCHAR) AS id,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS bkt,
         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS words
  FROM documents
),
g AS (
  SELECT id, bkt, CASE WHEN len(words) >= 3 THEN
    list_distinct(list_transform(range(1, len(words) - 1),
      i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))
    ELSE [array_to_string(words, ' ')] END AS grams
  FROM w
),
test_u AS (SELECT DISTINCT unnest(grams) AS g FROM g WHERE bkt < 10),
tg AS (SELECT id, unnest(grams) AS g FROM g WHERE bkt >= 10)
"""

ORACLE_CONTAMINATION_EXACT = _CONTAM_CTE + """
SELECT tg.id AS id,
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(count(test_u.g) AS BIGINT) AS n_contaminated,
       CAST(count(test_u.g) AS DOUBLE) / count(*) AS frac
FROM tg LEFT JOIN test_u ON tg.g = test_u.g
GROUP BY tg.id
"""


def q_contamination_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bloom scale path checked against the exact path in-band:
    per train doc, n_grams is value-checked cross-engine, the
    no-false-negative guarantee and the fpp overcount bound are
    asserted as booleans."""
    train, test = _contamination_split(spark, sf_dir)
    exact = contamination.contamination_exact(train, test, "text", "doc_id", n=3)
    bloom = contamination.contamination_bloom(
        train, test, "text", "doc_id", n=3, expected_grams=200_000, fpp=1e-4)
    e, b = exact.alias("e"), bloom.alias("b")
    return e.join(b, "id").select(
        F.col("id"),
        F.col("e.n_grams").alias("n_grams"),
        (F.col("b.n_contaminated") >= F.col("e.n_contaminated")).alias("no_false_neg"),
        ((F.col("b.frac") - F.col("e.frac")) <= 0.01).alias("overcount_ok"),
    )


ORACLE_CONTAMINATION_BLOOM = _CONTAM_CTE + """
SELECT tg.id AS id,
       CAST(count(*) AS BIGINT) AS n_grams,
       TRUE AS no_false_neg,
       TRUE AS overcount_ok
FROM tg LEFT JOIN test_u ON tg.g = test_u.g
GROUP BY tg.id
"""


def q_contamination_xor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The static xor filter as the contamination seen-set
    (operators/contamination.py:contamination_xor): sized automatically
    from the frozen test-gram set, ~32% smaller broadcast than bloom at
    equal FPR.  Totals are value-checked cross-engine; no-false-negative
    is asserted per doc; the overcount bound is asserted CORPUS-LEVEL —
    xor false positives are deterministic per gram VALUE, so one
    unlucky frequent value legitimately lands in many small docs and a
    per-doc frac bound (the bloom gate's shape) would be flaky.  The
    corpus clean-gram FP rate bound is 65x the nominal 2^-16 plus a
    constant — never flaky, still fails instantly on a broken filter."""
    train, test = _contamination_split(spark, sf_dir)
    exact = contamination.contamination_exact(train, test, "text", "doc_id", n=3)
    xor = contamination.contamination_xor(
        train, test, "text", "doc_id", n=3, fp_bits=16)
    e, x = exact.alias("e"), xor.alias("x")
    return (
        e.join(x, "id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("e.n_grams").alias("n_grams_total"),
            F.sum("e.n_contaminated").alias("n_contaminated_exact"),
            F.min(F.col("x.n_contaminated") >= F.col("e.n_contaminated"))
            .alias("no_false_neg"),
            (
                (F.sum("x.n_contaminated") - F.sum("e.n_contaminated"))
                <= 0.001 * (F.sum("e.n_grams") - F.sum("e.n_contaminated")) + 20
            ).alias("overcount_ok"),
        )
    )


ORACLE_CONTAMINATION_XOR = _CONTAM_CTE + """
SELECT CAST(COUNT(DISTINCT id) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_grams_total,
       CAST(COUNT(test_u.g) AS BIGINT) AS n_contaminated_exact,
       TRUE AS no_false_neg,
       TRUE AS overcount_ok
FROM tg LEFT JOIN test_u ON tg.g = test_u.g
"""


def q_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-state streaming dedup, driver-gated via the boolean-assert
    pattern: four simulated micro-batch epochs over the documents table
    (epoch e = doc_id % 4 == e, plus epochs 1-3 re-emit epoch-0 texts
    under new ids — guaranteed cross-epoch duplicates).  Asserts the
    operator's contract in-band:

    - ``n_unique_texts`` (value-checked cross-engine): distinct texts in
      the corpus — the duplicates add none;
    - ``no_false_survivors``: survivors carry pairwise-distinct texts,
      all drawn from the corpus (bloom has no false negatives, so a
      seen text can never be re-emitted);
    - ``loss_ok``: survivors ≥ 99% of unique texts (fpp=0.001 bound on
      wrongly-dropped uniques, generous margin).
    """
    import tempfile

    from presto_bloomfilter_spark.store import SketchStore
    from presto_bloomfilter_spark.streaming.dedup_stream import StreamingBloomDedup

    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"), "text")
    root = tempfile.mkdtemp(prefix="pbs_sdedup_")
    sink = f"{root}/sink"
    d = StreamingBloomDedup(
        SketchStore(f"{root}/store"), "gate", sink,
        50_000, 0.001)
    epoch0 = docs.filter(F.col("doc_id").cast("long") % 4 == 0)
    for e in range(4):
        batch = docs.filter(F.col("doc_id").cast("long") % 4 == e)
        if e:
            batch = batch.unionByName(epoch0.select(
                F.concat(F.lit(f"dup{e}-"), F.col("doc_id")).alias("doc_id"), "text"))
        d.process_batch(batch, e)

    survivors = spark.read.parquet(sink).select("text")
    n_surv = survivors.count()
    n_surv_distinct = survivors.distinct().count()
    n_unique = docs.select("text").distinct().count()
    corpus_texts = docs.select("text").distinct()
    n_in_corpus = survivors.distinct().join(corpus_texts, "text", "left_semi").count()
    return spark.createDataFrame(
        [(n_unique,
          bool(n_surv == n_surv_distinct and n_in_corpus == n_surv_distinct),
          bool(n_surv >= 0.99 * n_unique))],
        "n_unique_texts long, no_false_survivors boolean, loss_ok boolean",
    )


ORACLE_STREAMING_DEDUP = """
SELECT CAST(COUNT(DISTINCT text) AS BIGINT) AS n_unique_texts,
       TRUE AS no_false_survivors,
       TRUE AS loss_ok
FROM documents
"""


def q_streaming_dedup_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The S>1 sharded streaming dedup (seen-set = 4-shard bloom
    family), same epoch construction and in-band contract assertions as
    streaming_dedup — S>1 must match S=1 semantics exactly."""
    import tempfile

    from presto_bloomfilter_spark.streaming.dedup_stream import ShardedStreamingBloomDedup

    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"), "text")
    root = tempfile.mkdtemp(prefix="pbs_sdedup4_")
    sink = f"{root}/sink"
    d = ShardedStreamingBloomDedup(
        f"{root}/store", "gate4", sink, shards=4,
        expected_insertions_per_shard=20_000, fpp=0.001)
    epoch0 = docs.filter(F.col("doc_id").cast("long") % 4 == 0)
    for e in range(4):
        batch = docs.filter(F.col("doc_id").cast("long") % 4 == e)
        if e:
            batch = batch.unionByName(epoch0.select(
                F.concat(F.lit(f"dup{e}-"), F.col("doc_id")).alias("doc_id"), "text"))
        d.process_batch(batch, e)

    survivors = spark.read.parquet(sink).select("text")
    n_surv = survivors.count()
    n_surv_distinct = survivors.distinct().count()
    n_unique = docs.select("text").distinct().count()
    n_in_corpus = survivors.distinct().join(
        docs.select("text").distinct(), "text", "left_semi").count()
    return spark.createDataFrame(
        [(n_unique,
          bool(n_surv == n_surv_distinct and n_in_corpus == n_surv_distinct),
          bool(n_surv >= 0.99 * n_unique))],
        "n_unique_texts long, no_false_survivors boolean, loss_ok boolean",
    )


def q_streaming_sketch_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch sketch maintenance over a REAL Structured Streaming
    query (file source, Trigger.AvailableNow, one file per micro-batch):
    the folded HLL's distinct-doc estimate must land within its error
    bound of the exact count, which is value-checked cross-engine."""
    import tempfile

    from presto_bloomfilter_spark.store import SketchStore
    from presto_bloomfilter_spark.streaming.stream_sketch import run_stream_from_files

    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"))
    root = tempfile.mkdtemp(prefix="pbs_smaint_")
    in_dir = f"{root}/in"
    docs.repartition(3).write.parquet(in_dir)

    sink = run_stream_from_files(
        spark, in_dir, "doc_id string",
        agg.sketch_spec(HyperLogLog, "doc_id", "strings"),
        SketchStore(f"{root}/store"), "maint", f"{root}/ckpt",
    )
    est = sink.current().estimate()
    n_exact = docs.distinct().count()
    return spark.createDataFrame(
        [(n_exact, bool(abs(est - n_exact) <= 0.03 * n_exact),
          len(sink.batch_keys()) >= 1)],
        "n_docs long, hll_ok boolean, folded boolean",
    )


ORACLE_STREAMING_SKETCH_MAINTENANCE = """
SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       TRUE AS hll_ok, TRUE AS folded
FROM documents
"""


def q_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over dup pairs, exercised on MULTI-HOP
    chains: within each exact-dup text group, only consecutive edges
    (a-b, b-c, ...) are emitted, so the component label must propagate
    the full chain length — a pairwise join could not produce this.
    Runs over the augmented corpus (documents + constructed dups) so
    real multi-doc text groups exist; oracle: every doc in a >1 group
    labels with the group's lexicographic min id."""
    docs = _aug_documents(spark, sf_dir)
    w = Window.partitionBy("text").orderBy("id")
    chain = (
        docs.withColumn("prev", F.lag("id").over(w))
        .filter(F.col("prev").isNotNull())
        .select(F.col("prev").alias("id_a"), F.col("id").alias("id_b"))
    )
    return dedup.components_from_pairs(chain)


def q_dup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same multi-hop chain input and oracle as dup_clusters, computed
    by large-star/small-star contraction (components_star) — the
    O(log n)-rounds variant for extreme-diameter pair graphs; the two
    algorithms must agree exactly."""
    docs = _aug_documents(spark, sf_dir)
    w = Window.partitionBy("text").orderBy("id")
    chain = (
        docs.withColumn("prev", F.lag("id").over(w))
        .filter(F.col("prev").isNotNull())
        .select(F.col("prev").alias("id_a"), F.col("id").alias("id_b"))
    )
    return dedup.components_star(chain)


ORACLE_DUP_CLUSTERS = f"""
WITH gr AS (
  SELECT id, MIN(id) OVER (PARTITION BY text) AS mn,
         COUNT(*) OVER (PARTITION BY text) AS cnt
  FROM ({_AUG_SQL})
)
SELECT id, mn AS component
FROM gr WHERE cnt > 1
"""


def q_sql_bloom_agg_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference README.md:8-38 shape executed ENTIRELY as one
    spark.sql text — build (bloom_filter_sized aggregate UDAF in a
    CTE), probe (bloom_filter_contains in WHERE), exact verify, final
    agg — no Python-API step at all.  Upgrades the hybrid
    sql_surface_cte gate: round 3 documented 'a PySpark UDAF cannot be
    SQL-registered'; grouped-agg pandas UDFs can (pyspark 4.x), so the
    reference's full SQL surface now exists verbatim.  Execution notes
    baked in here: the 1-row aggregate result is COLLECTED (one blob)
    and republished as a literal view before the probe references it —
    (a) a pandas-UDAF plan inside a scalar subquery trips a
    null-session NPE in Spark's subquery re-execution (live or cached),
    and (b) attaching the CTE via CROSS JOIN instead materializes the
    ~90 KB blob once PER PROBE ROW through Arrow (measured 20x slower
    at sf0.1).  The blob-through-driver hand-off is one filter — the
    same O(sketch) cost every persist/load path already accepts."""
    from presto_bloomfilter_spark import compat

    compat.register_sql_functions(spark)
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("pbs_orders")
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("pbs_lineitem")
    blob = spark.sql(
        """
        SELECT bloom_filter_sized(CAST(o_orderkey AS STRING), 50000, 0.001) AS b
        FROM pbs_orders WHERE o_totalprice > 300000
        """
    ).collect()[0]["b"]
    compat.publish_sketch_view(spark, bytes(blob), "pbs_bf_sql")
    return spark.sql(
        """
        WITH pre AS (
          SELECT * FROM pbs_lineitem
          WHERE bloom_filter_contains((SELECT bf FROM pbs_bf_sql),
                                      CAST(l_orderkey AS STRING))
        )
        SELECT l_returnflag, COUNT(*) AS cnt,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        FROM pre
        WHERE l_orderkey IN (SELECT o_orderkey FROM pbs_orders
                             WHERE o_totalprice > 300000)
        GROUP BY l_returnflag
        """
    )


def q_moments_ntok_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moments-sketch per-source n_tok quantiles (Gan et al. VLDB 2018
    — the high-cardinality grouped-quantile shape: ~120 B of state per
    key, vector-add merge).  Estimated per-source median/p90 are
    rank-checked EXACTLY in Spark (|rank(est) − q| ≤ 0.08; measured
    worst ≤ 0.042 at every scale); per-source counts are value-checked
    cross-engine."""
    tokens = load_tokens(spark, sf_dir).select(
        "source", F.col("n_tok").cast("double").alias("ntokd"))
    grouped = agg.grouped_sketch(
        tokens, "source", agg.sketch_spec(MomentsSketch, "ntokd", "floats", 0.0, 1024.0))
    est = [(r["source"],
            float(sketch_from_bytes(r["sketch"]).quantile(0.5)),
            float(sketch_from_bytes(r["sketch"]).quantile(0.9)))
           for r in grouped.collect()]  # one ~120 B blob per source
    est_df = spark.createDataFrame(est, "source string, med double, p90 double")
    j = tokens.join(F.broadcast(est_df), "source")
    le_med = (F.col("ntokd") <= F.col("med")).cast("double")
    le_p90 = (F.col("ntokd") <= F.col("p90")).cast("double")
    return j.groupBy("source").agg(
        F.count("*").alias("n_rows"),
        (F.abs(F.avg(le_med) - 0.5) <= 0.08).alias("med_ok"),
        (F.abs(F.avg(le_p90) - 0.9) <= 0.08).alias("p90_ok"),
    )


ORACLE_MOMENTS_NTOK_QUANTILES = f"""
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_rows,
       TRUE AS med_ok, TRUE AS p90_ok
FROM {_TOKENS_SQL} GROUP BY source
"""


def q_sql_sketch_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A persisted grouped sketch table queried from PURE SQL text via
    the family-generic ``sketch_estimate(blob)`` scalar (compat SQL
    surface): per-source HLL estimates must land within the published
    bound of the exact per-source distinct counts, which are
    value-checked cross-engine."""
    from presto_bloomfilter_spark import compat

    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"), "source")
    agg.grouped_sketch(
        docs, "source", agg.sketch_spec(HyperLogLog, "doc_id", "strings")
    ).createOrReplaceTempView("pbs_sketch_tbl")
    compat.register_sql_functions(spark)
    est = spark.sql(
        "SELECT source, sketch_estimate(sketch) AS est FROM pbs_sketch_tbl")
    exact = docs.groupBy("source").agg(
        F.countDistinct("doc_id").alias("n_docs"))
    return est.join(exact, "source").select(
        "source", "n_docs",
        (F.abs(F.col("est") - F.col("n_docs"))
         <= 0.03 * F.col("n_docs")).alias("hll_ok"))


ORACLE_SQL_SKETCH_ESTIMATE = """
SELECT source, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs, TRUE AS hll_ok
FROM documents GROUP BY source
"""


def q_cms_join_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-join cardinality estimation from count-min sketches
    (Cormode & Muthukrishnan 2005 §4.2: est = min_d row-dot-product;
    a·b <= est <= a·b + eps·N_a·N_b w.p. >= 1-delta) — how a planner
    sizes a join from two already-built blobs without scanning either
    side.  Two shapes: the skewed SELF-join of lineitem on l_partkey
    (Σ cnt(k)², real multiplicities on both sides) and the
    orders⋈customer FK join.  Exact sizes are value-checked
    cross-engine; the sketch bounds are asserted as booleans."""
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey")
    orders = load_table(spark, sf_dir, "orders").select("o_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")

    cms_li = agg.aggregate_sketch(li, agg.sketch_spec(CountMinSketch, "l_partkey", "ints", eps=1e-5))
    cms_o = agg.aggregate_sketch(orders, agg.sketch_spec(CountMinSketch, "o_custkey", "ints", eps=1e-5))
    cms_c = agg.aggregate_sketch(cust, agg.sketch_spec(CountMinSketch, "c_custkey", "ints", eps=1e-5))

    self_est = cms_li.inner_product(cms_li)
    self_slack = cms_li.inner_product_bound(cms_li)
    fk_est = cms_o.inner_product(cms_c)
    fk_slack = cms_o.inner_product_bound(cms_c)

    self_exact = (li.groupBy("l_partkey").count()
                  .agg(F.sum(F.col("count") * F.col("count"))).collect()[0][0])
    fk_exact = orders.join(
        cust, orders["o_custkey"] == cust["c_custkey"]).count()
    return spark.createDataFrame(
        [(int(self_exact),
          bool(self_est >= self_exact),
          bool(self_est <= self_exact + self_slack),
          int(fk_exact),
          bool(fk_est >= fk_exact),
          bool(fk_est <= fk_exact + fk_slack))],
        "self_join_size long, self_lower_ok boolean, self_upper_ok boolean, "
        "fk_join_size long, fk_lower_ok boolean, fk_upper_ok boolean",
    )


ORACLE_CMS_JOIN_SIZE = """
SELECT
  CAST((SELECT SUM(c * c) FROM
        (SELECT COUNT(*) AS c FROM lineitem GROUP BY l_partkey)) AS BIGINT)
    AS self_join_size,
  TRUE AS self_lower_ok, TRUE AS self_upper_ok,
  CAST((SELECT COUNT(*) FROM orders JOIN customer
        ON o_custkey = c_custkey) AS BIGINT) AS fk_join_size,
  TRUE AS fk_lower_ok, TRUE AS fk_upper_ok
"""


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonicalize dup clusters by a QUALITY key (keep the longest
    member, not an arbitrary one): cluster the augmented corpus by
    5-word prefix (groups each doc with its truncated 'near-' variant),
    build components from multi-hop chain edges, then
    keep_best_per_cluster by text length.  Full value oracle: the
    chain-within-group construction makes the components equal the
    prefix groups, so DuckDB reproduces the winners with one window
    argmax."""
    docs = _aug_documents(spark, sf_dir)
    ck = F.array_join(F.slice(contamination.split_words("text"), 1, 5), " ")
    keyed = docs.withColumn("__ck", ck)
    w = Window.partitionBy("__ck").orderBy("id")
    chain = (
        keyed.withColumn("prev", F.lag("id").over(w))
        .filter(F.col("prev").isNotNull())
        .select(F.col("prev").alias("id_a"), F.col("id").alias("id_b"))
    )
    clusters = dedup.components_from_pairs(chain)
    kept = dedup.keep_best_per_cluster(
        docs, clusters, [F.length("text").desc()], id_col="id")
    return kept.select("id", F.length("text").cast("int").alias("n_chars"))


ORACLE_DEDUP_KEEP_BEST = rf"""
WITH aug AS ({_AUG_SQL}),
k AS (
  SELECT id, text,
         array_to_string(list_slice(
           list_filter(string_split_regex(text, '\s+'), x -> x <> ''),
           1, 5), ' ') AS ck
  FROM aug
)
SELECT id, CAST(length(text) AS INTEGER) AS n_chars
FROM (
  SELECT id, text,
         row_number() OVER (PARTITION BY ck ORDER BY length(text) DESC, id) AS rn
  FROM k
)
WHERE rn = 1
"""


def q_checkpoint_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resumable checkpointed build (north_rule: 'resumable from
    checkpoint with per-partition lineage'): the first build persists
    every partition partial; an identical re-run must recompute ZERO
    partitions and return a byte-identical sketch, whose estimate is
    value-checked cross-engine."""
    import tempfile

    from presto_bloomfilter_spark.store import SketchStore, checkpointed_aggregate

    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id")).repartition(8)
    store = SketchStore(tempfile.mkdtemp(prefix="pbs_ckpt_"))
    sk1, built1 = checkpointed_aggregate(
        spark, docs, agg.sketch_spec(HyperLogLog, "doc_id", "strings"), store, "cr")
    sk2, built2 = checkpointed_aggregate(
        spark, docs, agg.sketch_spec(HyperLogLog, "doc_id", "strings"), store, "cr")
    n_exact = docs.distinct().count()
    est = sk2.estimate()
    return spark.createDataFrame(
        [(n_exact,
          bool(abs(est - n_exact) <= 0.03 * n_exact),
          bool(built1 > 0 and built2 == 0),
          bool(sk1.to_bytes() == sk2.to_bytes()))],
        "n_docs long, hll_ok boolean, resume_skipped_all boolean, identical boolean",
    )


ORACLE_CHECKPOINT_RESUME = """
SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       TRUE AS hll_ok, TRUE AS resume_skipped_all, TRUE AS identical
FROM documents
"""


def q_incremental_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-delta sketch maintenance (north_rule: Iceberg-snapshot
    resumability — a table grows by adding immutable data files; at
    10^12 rows the sketch must follow by processing ONLY the new files,
    never rebuilding).  The gate proves the delta accounting (first
    update sketches snapshot A's files, the second only snapshot B's
    delta, a re-run is a 0-file no-op) and that the incrementally
    maintained sketch is BYTE-identical to a full rebuild over the
    whole table (merge associativity); the estimate is value-checked
    cross-engine."""
    import glob
    import tempfile

    from presto_bloomfilter_spark.store import SketchStore, incremental_aggregate

    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"))
    root = tempfile.mkdtemp(prefix="pbs_inc_")
    docs.filter(F.crc32(F.col("doc_id")) % 2 == 0).repartition(2).write.parquet(root + "/a")
    docs.filter(F.crc32(F.col("doc_id")) % 2 != 0).repartition(2).write.parquet(root + "/b")
    files_a = sorted(glob.glob(root + "/a/*.parquet"))
    files_b = sorted(glob.glob(root + "/b/*.parquet"))
    store = SketchStore(tempfile.mkdtemp(prefix="pbs_incstore_"))
    spec = agg.sketch_spec(HyperLogLog, "doc_id", "strings")

    _, n1 = incremental_aggregate(spark, files_a, spec, store, "inc")
    sk2, n2 = incremental_aggregate(spark, files_a + files_b, spec, store, "inc")
    sk3, n3 = incremental_aggregate(spark, files_a + files_b, spec, store, "inc")
    full = agg.aggregate_sketch(spark.read.parquet(root + "/a", root + "/b"), spec)
    n_exact = docs.distinct().count()
    est = sk2.estimate()
    return spark.createDataFrame(
        [(n_exact,
          bool(abs(est - n_exact) <= 0.03 * n_exact),
          bool(n1 == len(files_a) and n2 == len(files_b) and n3 == 0),
          bool(sk2.to_bytes() == full.to_bytes() == sk3.to_bytes()))],
        "n_docs long, hll_ok boolean, delta_counts_ok boolean, identical_to_full boolean",
    )


ORACLE_INCREMENTAL_UPDATE = """
SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       TRUE AS hll_ok, TRUE AS delta_counts_ok, TRUE AS identical_to_full
FROM documents
"""


def q_incremental_update_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-keyed incremental maintenance over a REAL table-format
    directory (the north_rule's "resumable from Iceberg-snapshot
    checkpoints"): a Delta-protocol table (sources/delta.py) grows by
    two commits; the sketch follows by reading the transaction log's
    manifest — v1→v2 processes exactly the files commit 2 added, the
    recorded snapshot is the real table version (``docs@v2``), a
    re-run is a 0-file no-op, time travel to v1 reproduces the first
    snapshot, and the incrementally maintained sketch is BYTE-identical
    to a full rebuild of the table read.  Counts are value-checked
    cross-engine via the engine-portable md5 split."""
    import glob
    import tempfile

    from presto_bloomfilter_spark.operators.sampling import md5_bucket
    from presto_bloomfilter_spark.sources.delta import create_delta_table
    from presto_bloomfilter_spark.store import (
        IncrementalBuild, SketchStore, incremental_aggregate_delta)

    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"))
    root = tempfile.mkdtemp(prefix="pbs_delta_")
    t = create_delta_table(root + "/tbl", "docs")
    docs.filter(md5_bucket("doc_id", 2) == 0).repartition(2) \
        .write.parquet(t.path + "/a")
    files_a = sorted(glob.glob(t.path + "/a/*.parquet"))
    t.commit(adds=files_a)
    docs.filter(md5_bucket("doc_id", 2) == 1).repartition(2) \
        .write.parquet(t.path + "/b")
    files_b = sorted(glob.glob(t.path + "/b/*.parquet"))
    t.commit(adds=files_b)

    store = SketchStore(tempfile.mkdtemp(prefix="pbs_deltastore_"))
    spec = agg.sketch_spec(HyperLogLog, "doc_id", "strings")
    sk1, n1 = incremental_aggregate_delta(spark, t, spec, store, "incd", 1)
    snap1 = IncrementalBuild(store, "incd").snapshot
    sk2, n2 = incremental_aggregate_delta(spark, t, spec, store, "incd")
    sk3, n3 = incremental_aggregate_delta(spark, t, spec, store, "incd")
    full = agg.aggregate_sketch(t.read(spark), spec)
    n_v1 = t.read(spark, 1).count()
    n_all = t.read(spark).count()
    return spark.createDataFrame(
        [(n_v1, n_all,
          bool(abs(sk1.estimate() - n_v1) <= 0.05 * max(n_v1, 1)),
          bool(abs(sk2.estimate() - n_all) <= 0.03 * max(n_all, 1)),
          bool(n1 == len(files_a) and n2 == len(files_b) and n3 == 0),
          bool(sk2.to_bytes() == full.to_bytes() == sk3.to_bytes()),
          bool(snap1 == "docs@v1"
               and IncrementalBuild(store, "incd").snapshot == "docs@v2"))],
        "n_docs_v1 long, n_docs long, hll_v1_ok boolean, hll_ok boolean, "
        "delta_counts_ok boolean, identical_to_full boolean, "
        "snapshot_keyed boolean",
    )


ORACLE_INCREMENTAL_UPDATE_DELTA = """
SELECT CAST(sum(CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                           AS BIGINT) % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_v1,
       CAST(count(*) AS BIGINT) AS n_docs,
       TRUE AS hll_v1_ok, TRUE AS hll_ok, TRUE AS delta_counts_ok,
       TRUE AS identical_to_full, TRUE AS snapshot_keyed
FROM documents
"""


def q_streaming_windowed_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time windowed stateful streaming (applyInPandasWithState):
    per-day HLL sketches of distinct users over the events table,
    driven as a REAL file-source stream.  Determinism device: the
    watermark delay (40 days) exceeds the data's 30-day span, so no
    real event is ever late regardless of file order; a far-future
    sentinel file (written last → newest mtime → final micro-batch)
    advances the watermark past every real window end, finalizing all
    of them exactly once, while the sentinel's own window stays open
    and is never emitted.  Per-day distinct-user counts are
    value-checked cross-engine; the HLL estimate bound is asserted
    in-band."""
    import datetime as _dt
    import tempfile
    import time as _time

    from presto_bloomfilter_spark.functions.serialization import sketch_from_bytes
    from presto_bloomfilter_spark.streaming.stateful import run_windowed_stream_from_files

    events = load_table(spark, sf_dir, "events").select(
        "ts", F.col("user_id").cast("string").alias("user_id"))
    root = tempfile.mkdtemp(prefix="pbs_wstream_")
    in_dir = f"{root}/in"
    events.repartition(3).write.parquet(in_dir)
    max_ts = events.agg(F.max("ts")).collect()[0][0]
    sentinel = spark.createDataFrame(
        [(max_ts + _dt.timedelta(days=100), "-1")], "ts timestamp, user_id string")
    _time.sleep(1.1)  # file source orders by mtime: sentinel must be the last batch
    sentinel.coalesce(1).write.mode("append").parquet(in_dir)

    out = run_windowed_stream_from_files(
        spark, in_dir, "ts timestamp, user_id string",
        agg.sketch_spec(HyperLogLog, "user_id", "strings"), time_col="ts",
        window_duration="1 day", watermark_delay="40 days",
        checkpoint=f"{root}/ckpt",
    ).collect()
    est_by_day = {
        r.window_start.strftime("%Y-%m-%d"): sketch_from_bytes(r.sketch).estimate()
        for r in out
    }
    exact = (
        events.groupBy(F.date_format(F.window("ts", "1 day").start, "yyyy-MM-dd")
                       .alias("day"))
        .agg(F.countDistinct("user_id").alias("n_users"))
        .collect()
    )
    rows = [
        (r.day, r.n_users,
         bool(r.day in est_by_day
              and abs(est_by_day[r.day] - r.n_users) <= max(0.05 * r.n_users, 3.0)))
        for r in exact
    ]
    return spark.createDataFrame(rows, "day string, n_users long, hll_ok boolean")


ORACLE_STREAMING_WINDOWED_USERS = """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       TRUE AS hll_ok
FROM events
GROUP BY 1
"""


def q_contamination_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-id 8-gram contamination over the pre-tokenized sequence
    table (the north-rule input shape), exact form, full value oracle.
    Restricted to the non-web sources (~30% of docs) to keep the gate
    fast — the operator itself is slice-agnostic."""
    from presto_bloomfilter_spark.operators.sampling import md5_bucket

    t = load_tokens(spark, sf_dir).filter(F.col("source") != "web")
    bucket = md5_bucket("doc_id", 100)
    train, test = t.filter(bucket >= 10), t.filter(bucket < 10)
    return contamination.contamination_exact_tokens(train, test, "tokens", "doc_id", n=8)


ORACLE_CONTAMINATION_TOKENS = f"""
WITH t AS (
  SELECT doc_id AS id,
         CAST(('0x' || substr(md5(doc_id), 1, 8)) AS BIGINT) % 100 AS bkt,
         tokens
  FROM {_TOKENS_SQL}
  WHERE source <> 'web'
),
g AS (
  SELECT id, bkt, CASE WHEN len(tokens) >= 8 THEN
    list_distinct(list_transform(range(1, len(tokens) - 6),
      i -> array_to_string(tokens[i:i+7], ' ')))
    ELSE [array_to_string(tokens, ' ')] END AS grams
  FROM t
),
test_u AS (SELECT DISTINCT unnest(grams) AS g FROM g WHERE bkt < 10),
tg AS (SELECT id, unnest(grams) AS g FROM g WHERE bkt >= 10)
SELECT tg.id AS id,
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(count(test_u.g) AS BIGINT) AS n_contaminated,
       CAST(count(test_u.g) AS DOUBLE) / count(*) AS frac
FROM tg LEFT JOIN test_u ON tg.g = test_u.g
GROUP BY tg.id
"""


def q_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source unigram entropy + KL-to-corpus-mixture over the tokens
    table (operators/stats.py:source_token_divergence) — the mixture-
    monitoring statistic a multi-source training corpus is audited with.
    Pure Catalyst; the one corpus-sized pass partial-aggregates map-side
    so the shuffle is vocabulary-bounded.  ln-sums rounded to 6 decimals
    on both engines (repo-wide ulp discipline)."""
    from presto_bloomfilter_spark.operators import stats

    tokens = load_tokens(spark, sf_dir)
    return stats.source_token_divergence(tokens)


ORACLE_SOURCE_DIVERGENCE = f"""
WITH per AS (
  SELECT source, tok AS token, COUNT(*) AS c
  FROM (SELECT source, UNNEST(tokens) AS tok FROM {_TOKENS_SQL})
  GROUP BY source, tok
),
totals AS (SELECT source, SUM(c) AS n_tok, COUNT(*) AS n_types FROM per GROUP BY source),
corpus AS (SELECT token, SUM(c) AS cc FROM per GROUP BY token),
grand AS (SELECT SUM(c) AS nn FROM per)
SELECT p.source,
       CAST(MAX(t.n_tok) AS BIGINT) AS n_tok,
       CAST(MAX(t.n_types) AS BIGINT) AS n_types,
       ROUND(-SUM((CAST(p.c AS DOUBLE)/t.n_tok) * LN(CAST(p.c AS DOUBLE)/t.n_tok)), 6) + 0.0 AS entropy,
       ROUND(SUM((CAST(p.c AS DOUBLE)/t.n_tok)
                 * LN((CAST(p.c AS DOUBLE)/t.n_tok) / (CAST(co.cc AS DOUBLE)/g.nn))), 6) + 0.0 AS kl_corpus
FROM per p JOIN totals t USING (source) JOIN corpus co USING (token) CROSS JOIN grand g
GROUP BY p.source
"""


def q_source_pairwise_jsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between source unigram
    distributions (operators/stats.py:source_pairwise_jsd): duplicated-
    feed detection (near-zero JSD between nominally different sources).
    Union-support handled join-free via exclusive-mass algebra:
    JSD = intersection terms + 0.5*ln2*(exclusive mass each side)."""
    from presto_bloomfilter_spark.operators import stats

    tokens = load_tokens(spark, sf_dir)
    return stats.source_pairwise_jsd(tokens)


ORACLE_SOURCE_PAIRWISE_JSD = f"""
WITH per AS (
  SELECT source, tok AS token, COUNT(*) AS c
  FROM (SELECT source, UNNEST(tokens) AS tok FROM {_TOKENS_SQL})
  GROUP BY source, tok
),
totals AS (SELECT source, SUM(c) AS n_tok FROM per GROUP BY source),
probs AS (SELECT p.source, p.token, CAST(p.c AS DOUBLE)/t.n_tok AS pr
          FROM per p JOIN totals t USING (source)),
inter AS (
  SELECT a.source AS source_a, b.source AS source_b,
         SUM(0.5*a.pr*LN(a.pr/((a.pr+b.pr)/2)) + 0.5*b.pr*LN(b.pr/((a.pr+b.pr)/2))) AS jsd_inter,
         SUM(a.pr) AS mass_a, SUM(b.pr) AS mass_b
  FROM probs a JOIN probs b ON a.token = b.token AND a.source < b.source
  GROUP BY a.source, b.source
),
pairs AS (SELECT a.source AS source_a, b.source AS source_b
          FROM totals a, totals b WHERE a.source < b.source)
SELECT p.source_a, p.source_b,
       ROUND(COALESCE(i.jsd_inter, 0)
             + 0.5*((1-COALESCE(i.mass_a,0))+(1-COALESCE(i.mass_b,0)))*LN(2), 6) + 0.0 AS jsd
FROM pairs p LEFT JOIN inter i USING (source_a, source_b)
"""


def q_dedup_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup of PRE-TOKENIZED sequences (dedup.drop_exact_dup_
    tokens) — the north-rule table's native dedup: content key is md5
    of the space-joined token ids, min doc_id survives.  Duplicates are
    constructed in-band (every n_tok%7==0 sequence re-emitted under a
    'dup-' id) so the kept-set is value-checkable, not vacuous."""
    from presto_bloomfilter_spark.operators import dedup

    tokens = load_tokens(spark, sf_dir)
    base = tokens.select("doc_id", "tokens", "source", "n_tok")
    dups = base.filter(F.col("n_tok") % 7 == 0).select(
        F.concat(F.lit("dup-"), F.col("doc_id")).alias("doc_id"),
        "tokens", "source", "n_tok")
    corpus = base.unionByName(dups)
    kept = dedup.drop_exact_dup_tokens(corpus, "tokens", "doc_id")
    return kept.select("doc_id", "source", "n_tok")


ORACLE_DEDUP_TOKENS = f"""
WITH corpus AS (
  SELECT doc_id, array_to_string(tokens, ' ') AS ts, source, n_tok
  FROM {_TOKENS_SQL}
  UNION ALL
  SELECT 'dup-' || doc_id, array_to_string(tokens, ' '), source, n_tok
  FROM {_TOKENS_SQL} WHERE n_tok % 7 = 0
)
SELECT doc_id, source, n_tok FROM (
  SELECT doc_id, source, n_tok,
         ROW_NUMBER() OVER (PARTITION BY ts ORDER BY doc_id) AS rn
  FROM corpus
) WHERE rn = 1
"""


def q_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 adjacent-token collocations by PMI (stats.pmi_bigrams):
    vocabulary-bounded shuffles, TakeOrderedAndProject top-k, ties
    broken on the 6-dp-rounded value + (a, b) so the row set is
    engine-portable."""
    from presto_bloomfilter_spark.operators import stats

    tokens = load_tokens(spark, sf_dir)
    return stats.pmi_bigrams(tokens, k=50, min_count=5)


ORACLE_PMI_BIGRAMS = f"""
WITH bi AS (
  SELECT tokens[i] AS a, tokens[i + 1] AS b
  FROM (SELECT tokens, UNNEST(generate_series(1, len(tokens) - 1)) AS i
        FROM {_TOKENS_SQL})
),
bic AS (SELECT a, b, COUNT(*) AS cnt FROM bi GROUP BY a, b),
uni AS (SELECT tok, COUNT(*) AS uc
        FROM (SELECT UNNEST(tokens) AS tok FROM {_TOKENS_SQL}) GROUP BY tok),
nb AS (SELECT SUM(cnt) AS v FROM bic),
nu AS (SELECT SUM(uc) AS v FROM uni)
SELECT a, b, cnt, pmi FROM (
  SELECT bic.a, bic.b, CAST(bic.cnt AS BIGINT) AS cnt,
         ROUND(LN((CAST(bic.cnt AS DOUBLE) / nb.v)
                  / ((CAST(ua.uc AS DOUBLE) / nu.v)
                     * (CAST(ub.uc AS DOUBLE) / nu.v))), 6) + 0.0 AS pmi
  FROM bic
  JOIN uni ua ON bic.a = ua.tok
  JOIN uni ub ON bic.b = ub.tok
  CROSS JOIN nb CROSS JOIN nu
  WHERE bic.cnt >= 5
) ORDER BY pmi DESC, a, b LIMIT 50
"""


def q_zipf_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Zipf exponent over the tokens table
    (stats.zipf_alpha): OLS of ln(count) on ln(rank) over the top-500
    types — the head-distribution drift statistic.  regr_slope oracle;
    6-dp rounding absorbs the engines' different (co)variance
    summation orders."""
    from presto_bloomfilter_spark.operators import stats

    tokens = load_tokens(spark, sf_dir)
    return stats.zipf_alpha(tokens, max_rank=500)


ORACLE_ZIPF_ALPHA = f"""
WITH per AS (
  SELECT source, tok AS token, COUNT(*) AS c
  FROM (SELECT source, UNNEST(tokens) AS tok FROM {_TOKENS_SQL})
  GROUP BY source, tok
),
ranked AS (
  SELECT source, LN(CAST(rank AS DOUBLE)) AS x, LN(CAST(c AS DOUBLE)) AS y
  FROM (SELECT source, c, token,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY c DESC, token ASC) AS rank
        FROM per)
  WHERE rank <= 500
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_ranked,
       ROUND(-REGR_SLOPE(y, x), 6) + 0.0 AS alpha
FROM ranked GROUP BY source HAVING COUNT(*) >= 2
"""


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed as-of join (operators/temporal.py:as_of_join): every
    click event matched to the LATEST preceding view of the same user —
    the union-merge implementation (tag + union + one window carrying
    the last right payload; ZERO join operators, one key shuffle)
    against DuckDB's NATIVE ASOF LEFT JOIN as the oracle.  The right
    side is pre-aggregated to one row per (user, ts) so tie order is
    engine-independent; timestamps are compared as their canonical
    string forms."""
    from presto_bloomfilter_spark.operators import temporal

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts")
    views = (ev.filter(F.col("event_type") == "view")
             .groupBy("user_id", "ts").agg(F.max("value").alias("value")))
    out = temporal.as_of_join(clicks, views, "user_id",
                              right_payload=["value"])
    return out.select(
        "event_id", "user_id",
        F.col("matched_ts").cast("string").alias("matched_ts"),
        F.col("matched_value").alias("matched_value"),
    )


ORACLE_ASOF_JOIN = """
SELECT l.event_id, l.user_id,
       CAST(r.ts AS VARCHAR) AS matched_ts,
       r.value AS matched_value
FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') l
ASOF LEFT JOIN (SELECT user_id, ts, MAX(value) AS value
                FROM events WHERE event_type = 'view'
                GROUP BY user_id, ts) r
ON l.user_id = r.user_id AND l.ts >= r.ts
"""


# ORDER BY ts NULLS FIRST mirrors Spark's ASC default; a NULL ts (or a
# NULL-ts predecessor) always opens a session, matching
# temporal.sessionize's documented NULL semantics
_SESSION_SQL_CTE = """
WITH sess AS (
  SELECT event_id, user_id, ts,
         SUM(new) OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
  FROM (SELECT event_id, user_id, ts,
        CASE WHEN ts IS NULL THEN 1
             WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST) IS NULL THEN 1
             WHEN epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST)) > 1800 THEN 1
             ELSE 0 END AS new
        FROM events)
)
"""


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (temporal.sessionize, 30-minute gap):
    lag + cumulative-sum window, one shuffle on the user key.  Full
    value oracle: identical window SQL in DuckDB."""
    from presto_bloomfilter_spark.operators import temporal

    ev = load_table(spark, sf_dir, "events")
    return temporal.sessionize(ev, "user_id", "ts", "INTERVAL 30 MINUTES") \
        .select("event_id", "user_id", F.col("session_seq").cast("long").alias("session_seq"))


ORACLE_SESSIONIZE = _SESSION_SQL_CTE + """
SELECT event_id, user_id, CAST(session_seq AS BIGINT) AS session_seq FROM sess
"""


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval range join via interval bucketing
    (temporal.range_join): session [start, end+1s) windows derived by
    sessionize become the intervals, click events the points — every
    click must land back in exactly its own session.  The bucketed
    equi-join replaces the broadcast-nested-loop plan a raw inequality
    join would get; the oracle replays sessions and joins with the
    plain BETWEEN predicate."""
    from presto_bloomfilter_spark.operators import temporal

    ev = load_table(spark, sf_dir, "events")
    sess = temporal.sessionize(ev, "user_id", "ts", "INTERVAL 30 MINUTES")
    intervals = sess.groupBy("user_id", "session_seq").agg(
        F.min("ts").alias("b"),
        (F.max("ts") + F.expr("INTERVAL 1 SECOND")).alias("e"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts")
    out = temporal.range_join(clicks, intervals, "user_id", "ts", "b", "e",
                              bucket=1800.0)
    return out.select("event_id", "user_id",
                      F.col("session_seq").cast("long").alias("session_seq"))


ORACLE_RANGE_JOIN = _SESSION_SQL_CTE + """
, ivl AS (
  SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
         MIN(ts) AS b, MAX(ts) + INTERVAL 1 SECOND AS e
  FROM sess GROUP BY user_id, session_seq
)
SELECT l.event_id, l.user_id, ivl.session_seq
FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') l
JOIN ivl ON l.user_id = ivl.user_id AND l.ts >= ivl.b AND l.ts < ivl.e
"""


def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix (temporal.retention_cohorts):
    users bucketed by first-activity week, counted in each later active
    week.  Distinct-collapse first (map-side partials), then per-key
    min + equi-join — no windows, no inequality joins.  Full value
    oracle; cohort timestamps compared as canonical strings."""
    from presto_bloomfilter_spark.operators import temporal

    ev = load_table(spark, sf_dir, "events")
    out = temporal.retention_cohorts(ev, "user_id", "ts", "week")
    # DuckDB's date_trunc('week') yields a DATE — compare date strings
    return out.select(F.col("cohort").cast("date").cast("string").alias("cohort"),
                      "period_offset", "n_users")


ORACLE_RETENTION_COHORTS = """
WITH act AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS p FROM events),
coh AS (SELECT user_id, MIN(p) AS c FROM act GROUP BY user_id)
SELECT CAST(c AS VARCHAR) AS cohort,
       CAST(date_diff('day', CAST(c AS DATE), CAST(p AS DATE)) / 7 AS BIGINT) AS period_offset,
       CAST(COUNT(*) AS BIGINT) AS n_users
FROM act JOIN coh USING (user_id)
GROUP BY 1, 2
"""


def q_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view→click→purchase with a 1-hour
    window (temporal.funnel): greedy earliest-completion cascade, one
    equi-join + per-key min per level, no inequality joins or event-
    stream windows.  Full value oracle replays the identical cascade."""
    from presto_bloomfilter_spark.operators import temporal

    ev = load_table(spark, sf_dir, "events")
    return temporal.funnel(ev, ["view", "click", "purchase"], within=3600.0)


def q_funnel_steps_any(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Any-anchor windowed funnel (the analytics-industry ``within``
    default): a user converts if ANY of their step-1 events anchors a
    full in-window chain — exact bounded-candidate anchoring, cascade
    per (user, distinct step-1 ts), loud cap on candidates per user.
    Full value oracle replays the per-anchor greedy cascade."""
    from presto_bloomfilter_spark.operators import temporal

    ev = load_table(spark, sf_dir, "events")
    return temporal.funnel(ev, ["view", "click", "purchase"],
                           within=3600.0, anchor="any", max_anchors=64)


ORACLE_FUNNEL_STEPS_ANY = """
WITH a AS (SELECT DISTINCT user_id, ts AS t1 FROM events
           WHERE event_type = 'view'),
s2 AS (SELECT a.user_id, a.t1, MIN(e.ts) AS t2
       FROM events e JOIN a USING (user_id)
       WHERE e.event_type = 'click' AND e.ts >= a.t1
         AND epoch(e.ts) <= epoch(a.t1) + 3600
       GROUP BY a.user_id, a.t1),
s3 AS (SELECT s2.user_id, s2.t1, MIN(e.ts) AS t3
       FROM events e JOIN s2 USING (user_id)
       WHERE e.event_type = 'purchase' AND e.ts >= s2.t2
         AND epoch(e.ts) <= epoch(s2.t1) + 3600
       GROUP BY s2.user_id, s2.t1)
SELECT * FROM (VALUES
  (1, 'view', (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM a)),
  (2, 'click', (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM s2)),
  (3, 'purchase', (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM s3))
) t(step, step_name, n_users)
"""


ORACLE_FUNNEL_STEPS = """
WITH s1 AS (SELECT user_id, MIN(ts) AS t1 FROM events
            WHERE event_type = 'view' GROUP BY user_id),
s2 AS (SELECT e.user_id, MIN(e.ts) AS t2, MIN(s1.t1) AS t1
       FROM events e JOIN s1 USING (user_id)
       WHERE e.event_type = 'click' AND e.ts >= s1.t1
         AND epoch(e.ts) <= epoch(s1.t1) + 3600
       GROUP BY e.user_id),
s3 AS (SELECT e.user_id, MIN(e.ts) AS t3
       FROM events e JOIN s2 USING (user_id)
       WHERE e.event_type = 'purchase' AND e.ts >= s2.t2
         AND epoch(e.ts) <= epoch(s2.t1) + 3600
       GROUP BY e.user_id)
SELECT * FROM (VALUES
  (1, 'view', (SELECT CAST(COUNT(*) AS BIGINT) FROM s1)),
  (2, 'click', (SELECT CAST(COUNT(*) AS BIGINT) FROM s2)),
  (3, 'purchase', (SELECT CAST(COUNT(*) AS BIGINT) FROM s3))
) t(step, step_name, n_users)
"""


# ============================== registry ======================================
#
# ORDERING POLICY: the per-round driver gate verifies the FIRST 50 registry
# positions, so entries are ordered by driver-verification debt — queries that
# have never had a driver CORRECTNESS row come first, then queries whose last
# row predates round 4, then the round-4-verified tier.  Register NEW queries
# inside the top-50 window so they pick up a driver row in the same round.

QUERIES = {
    "winsorize": q_winsorize,
    "percentile_normalize": q_percentile_normalize,
    "log_odds_keywords": q_log_odds_keywords,
    "domain_blocklist": q_domain_blocklist,
    "nfc_normalize": q_nfc_normalize,
    "corpus_diff": q_corpus_diff,
    "ngram_containment": q_ngram_containment,
    "psi_drift": q_psi_drift,
    "vocab_coverage": q_vocab_coverage,
    "fd_embedding_cov": q_fd_embedding_cov,
    "boilerplate_lines": q_boilerplate_lines,
    "source_datacard": q_source_datacard,
    "ngram_novelty": q_ngram_novelty,
    "countsketch_f2": q_countsketch_f2,
    "ddsketch_ntok_quantiles": q_ddsketch_ntok_quantiles,
    "c4_rules": q_c4_rules,
    "char_entropy": q_char_entropy,
    "tfidf_topk": q_tfidf_topk,
    "zorder_layout": q_zorder_layout,
    "dedup_normalized": q_dedup_normalized,
    "line_repetition": q_line_repetition,
    "key_skew": q_key_skew,
    "url_dedup": q_url_dedup,
    "plan_mixture": q_plan_mixture,
    "line_dedup": q_line_dedup,
    "gopher_rules": q_gopher_rules,
    "substring_mem": q_substring_mem,
    "lang_id_trained": q_lang_id_trained,
    "quality_classifier": q_quality_classifier,
    "incremental_update_delta": q_incremental_update_delta,
    "funnel_steps_any": q_funnel_steps_any,
    "lm_score": q_lm_score,
    "ann_lsh_indexed": q_ann_lsh_indexed,
    "ann_pq": q_ann_pq,
    "ann_ivfpq": q_ann_ivfpq,
    "multimodal_png_decode": q_multimodal_png_decode,
    "multimodal_jpeg_decode": q_multimodal_jpeg_decode,
    "contamination_exact": q_contamination_exact,
    "contamination_bloom": q_contamination_bloom,
    "contamination_tokens": q_contamination_tokens,
    "streaming_dedup": q_streaming_dedup,
    "streaming_dedup_sharded": q_streaming_dedup_sharded,
    "streaming_sketch_maintenance": q_streaming_sketch_maintenance,
    "checkpoint_resume": q_checkpoint_resume,
    "incremental_update": q_incremental_update,
    "streaming_windowed_users": q_streaming_windowed_users,
    "dup_clusters": q_dup_clusters,
    "dup_clusters_star": q_dup_clusters_star,
    "dedup_keep_best": q_dedup_keep_best,
    "cms_join_size": q_cms_join_size,
    "sql_sketch_estimate": q_sql_sketch_estimate,
    "moments_ntok_quantiles": q_moments_ntok_quantiles,
    "sql_bloom_agg_e2e": q_sql_bloom_agg_e2e,
    "mg_top_words": q_mg_top_words,
    "multimodal_audio_features": q_multimodal_audio_features,
    "multimodal_video_frames": q_multimodal_video_frames,
    "semantic_dedup": q_semantic_dedup,
    "dsir_select": q_dsir_select,
    "sbbf_semijoin": q_sbbf_semijoin,
    "cbf_delete_semijoin": q_cbf_delete_semijoin,
    "source_divergence": q_source_divergence,
    "source_pairwise_jsd": q_source_pairwise_jsd,
    "xor_semijoin": q_xor_semijoin,
    "contamination_xor": q_contamination_xor,
    "dedup_tokens": q_dedup_tokens,
    "pmi_bigrams": q_pmi_bigrams,
    "zipf_alpha": q_zipf_alpha,
    "asof_join": q_asof_join,
    "sessionize": q_sessionize,
    "range_join": q_range_join,
    "retention_cohorts": q_retention_cohorts,
    "funnel_steps": q_funnel_steps,
    "mixture_sample": q_mixture_sample,
    "bottom_k_sample": q_bottom_k_sample,
    "pack_sequences": q_pack_sequences,
    "ann_cosine_topk": q_ann_cosine_topk,
    "ann_lsh": q_ann_lsh,
    "ann_ivf": q_ann_ivf,
    "multimodal_meta": q_multimodal_meta,
    "bloom_semijoin": q_bloom_semijoin,
    "sharded_bloom_semijoin": q_sharded_bloom_semijoin,
    "sql_surface_cte": q_sql_surface_cte,
    "bloom_member_recall": q_bloom_member_recall,
    "bloom_merge_prebuilt": q_bloom_merge_prebuilt,
    "hll_docs_by_source": q_hll_docs_by_source,
    "hll_docs_by_source_salted": q_hll_docs_by_source_salted,
    "hll_tokens_by_source": q_hll_tokens_by_source,
    "hll_tokens_by_source_fused": q_hll_tokens_by_source_fused,
    "hll_token_overlap": q_hll_token_overlap,
    "theta_token_overlap": q_theta_token_overlap,
    "theta_set_algebra": q_theta_set_algebra,
    "cms_top_tokens": q_cms_top_tokens,
    "top_k_tokens": q_top_k_tokens,
    "token_family_fused": q_token_family_fused,
    "kll_ntok_quantiles": q_kll_ntok_quantiles,
    "tdigest_ntok_quantiles": q_tdigest_ntok_quantiles,
    "pricing_summary": q_pricing_summary,
    "top_customers": q_top_customers,
    "distinct_users_by_event": q_distinct_users_by_event,
    "nation_region_join": q_nation_region_join,
    "persist_load_roundtrip": q_persist_load_roundtrip,
    "sketch_introspection": q_sketch_introspection,
    "dedup_exact": q_dedup_exact,
    "substring_dedup": q_substring_dedup,
    "drop_exact_dups": q_drop_exact_dups,
    "quality_filter": q_quality_filter,
    "hash_sample": q_hash_sample,
    "shuffle_rank": q_shuffle_rank,
    "jsonl_ingest": q_jsonl_ingest,
    "csv_ingest": q_csv_ingest,
    "weighted_sample_per_key": q_weighted_sample_per_key,
    "split_by_group": q_split_by_group,
    "quantile_buckets": q_quantile_buckets,
    "pii_scrub": q_pii_scrub,
    "cap_per_source": q_cap_per_source,
    "weighted_sample": q_weighted_sample,
    "dedup_minhash": q_dedup_minhash,
    "ngram_jaccard": q_ngram_jaccard,
    "embedding_near_dup_lsh": q_embedding_near_dup_lsh,
    "simhash_pairs": q_simhash_pairs,
    "text_quality": q_text_quality,
    "token_count": q_token_count,
    "token_count_bpe": q_token_count_bpe,
    "tokenize_bpe": q_tokenize_bpe,
    "embedding_near_dup": q_embedding_near_dup,
    "lang_id": q_lang_id,
    "fingerprint": q_fingerprint,
    "repetition_metrics": q_repetition_metrics,
    "bm25_topk": q_bm25_topk,
}

ORACLES = {
    "winsorize": ORACLE_WINSORIZE,
    "percentile_normalize": ORACLE_PERCENTILE_NORMALIZE,
    "log_odds_keywords": ORACLE_LOG_ODDS_KEYWORDS,
    "domain_blocklist": ORACLE_DOMAIN_BLOCKLIST,
    "nfc_normalize": ORACLE_NFC_NORMALIZE,
    "corpus_diff": ORACLE_CORPUS_DIFF,
    "ngram_containment": ORACLE_NGRAM_CONTAINMENT,
    "psi_drift": ORACLE_PSI_DRIFT,
    "vocab_coverage": ORACLE_VOCAB_COVERAGE,
    "fd_embedding_cov": ORACLE_FD_EMBEDDING_COV,
    "boilerplate_lines": ORACLE_BOILERPLATE_LINES,
    "source_datacard": ORACLE_SOURCE_DATACARD,
    "ngram_novelty": ORACLE_NGRAM_NOVELTY,
    "countsketch_f2": ORACLE_COUNTSKETCH_F2,
    "ddsketch_ntok_quantiles": ORACLE_DDSKETCH_NTOK_QUANTILES,
    "c4_rules": ORACLE_C4_RULES,
    "char_entropy": ORACLE_CHAR_ENTROPY,
    "tfidf_topk": ORACLE_TFIDF_TOPK,
    "zorder_layout": ORACLE_ZORDER_LAYOUT,
    "dedup_normalized": ORACLE_DEDUP_NORMALIZED,
    "line_repetition": ORACLE_LINE_REPETITION,
    "key_skew": ORACLE_KEY_SKEW,
    "url_dedup": ORACLE_URL_DEDUP,
    "plan_mixture": ORACLE_PLAN_MIXTURE,
    "line_dedup": ORACLE_LINE_DEDUP,
    "gopher_rules": ORACLE_GOPHER_RULES,
    "substring_mem": ORACLE_SUBSTRING_MEM,
    "lang_id_trained": ORACLE_LANG_ID_TRAINED,
    "quality_classifier": ORACLE_QUALITY_CLASSIFIER,
    "incremental_update_delta": ORACLE_INCREMENTAL_UPDATE_DELTA,
    "funnel_steps_any": ORACLE_FUNNEL_STEPS_ANY,
    "bloom_semijoin": ORACLE_BLOOM_SEMIJOIN,
    "sharded_bloom_semijoin": ORACLE_SHARDED_BLOOM_SEMIJOIN,
    "sql_surface_cte": ORACLE_SQL_SURFACE_CTE,
    "bloom_member_recall": ORACLE_BLOOM_MEMBER_RECALL,
    "bloom_merge_prebuilt": ORACLE_BLOOM_MERGE_PREBUILT,
    "hll_docs_by_source": ORACLE_HLL_DOCS_BY_SOURCE,
    "hll_docs_by_source_salted": ORACLE_HLL_DOCS_BY_SOURCE_SALTED,
    "hll_tokens_by_source": ORACLE_HLL_TOKENS_BY_SOURCE,
    "hll_tokens_by_source_fused": ORACLE_HLL_TOKENS_BY_SOURCE_FUSED,
    "hll_token_overlap": ORACLE_HLL_TOKEN_OVERLAP,
    "theta_token_overlap": ORACLE_THETA_TOKEN_OVERLAP,
    "theta_set_algebra": ORACLE_THETA_SET_ALGEBRA,
    "cms_top_tokens": ORACLE_CMS_TOP_TOKENS,
    "top_k_tokens": ORACLE_TOP_K_TOKENS,
    "token_family_fused": ORACLE_TOKEN_FAMILY_FUSED,
    "kll_ntok_quantiles": ORACLE_KLL_NTOK_QUANTILES,
    "tdigest_ntok_quantiles": ORACLE_TDIGEST_NTOK_QUANTILES,
    "pricing_summary": ORACLE_PRICING_SUMMARY,
    "top_customers": ORACLE_TOP_CUSTOMERS,
    "distinct_users_by_event": ORACLE_DISTINCT_USERS_BY_EVENT,
    "nation_region_join": ORACLE_NATION_REGION_JOIN,
    "persist_load_roundtrip": ORACLE_PERSIST_LOAD_ROUNDTRIP,
    "sketch_introspection": ORACLE_SKETCH_INTROSPECTION,
    "dedup_exact": ORACLE_DEDUP_EXACT,
    "substring_dedup": ORACLE_SUBSTRING_DEDUP,
    "drop_exact_dups": ORACLE_DROP_EXACT_DUPS,
    "quality_filter": ORACLE_QUALITY_FILTER,
    "hash_sample": ORACLE_HASH_SAMPLE,
    "shuffle_rank": ORACLE_SHUFFLE_RANK,
    "jsonl_ingest": ORACLE_JSONL_INGEST,
    "csv_ingest": ORACLE_CSV_INGEST,
    "weighted_sample_per_key": ORACLE_WEIGHTED_SAMPLE_PER_KEY,
    "split_by_group": ORACLE_SPLIT_BY_GROUP,
    "quantile_buckets": ORACLE_QUANTILE_BUCKETS,
    "pii_scrub": ORACLE_PII_SCRUB,
    "cap_per_source": ORACLE_CAP_PER_SOURCE,
    "weighted_sample": ORACLE_WEIGHTED_SAMPLE,
    "dedup_minhash": ORACLE_DEDUP_MINHASH,
    "ngram_jaccard": ORACLE_NGRAM_JACCARD,
    "embedding_near_dup_lsh": ORACLE_EMBEDDING_NEAR_DUP_LSH,
    "simhash_pairs": ORACLE_SIMHASH_PAIRS,
    "text_quality": ORACLE_TEXT_QUALITY,
    "token_count": ORACLE_TOKEN_COUNT,
    "token_count_bpe": ORACLE_TOKEN_COUNT_BPE,
    "tokenize_bpe": _oracle_tokenize_bpe,  # lazy: resolved at oracle_sql() time
    "embedding_near_dup": ORACLE_EMBEDDING_NEAR_DUP,
    "lang_id": ORACLE_LANG_ID,
    "fingerprint": ORACLE_FINGERPRINT,
    "repetition_metrics": ORACLE_REPETITION_METRICS,
    "bm25_topk": ORACLE_BM25_TOPK,
    "lm_score": ORACLE_LM_SCORE,
    "mixture_sample": ORACLE_MIXTURE_SAMPLE,
    "bottom_k_sample": ORACLE_BOTTOM_K_SAMPLE,
    "pack_sequences": ORACLE_PACK_SEQUENCES,
    "ann_cosine_topk": ORACLE_ANN_COSINE_TOPK,
    "ann_lsh": ORACLE_ANN_RECALL,
    "ann_lsh_indexed": ORACLE_ANN_RECALL,
    "ann_ivf": ORACLE_ANN_RECALL,
    "ann_pq": ORACLE_ANN_RECALL,
    "ann_ivfpq": ORACLE_ANN_RECALL,
    "multimodal_meta": ORACLE_MULTIMODAL_META,
    "multimodal_png_decode": ORACLE_MULTIMODAL_PNG_DECODE,
    "multimodal_jpeg_decode": ORACLE_MULTIMODAL_JPEG_DECODE,
    "contamination_exact": ORACLE_CONTAMINATION_EXACT,
    "contamination_bloom": ORACLE_CONTAMINATION_BLOOM,
    "contamination_tokens": ORACLE_CONTAMINATION_TOKENS,
    "streaming_dedup": ORACLE_STREAMING_DEDUP,
    "streaming_dedup_sharded": ORACLE_STREAMING_DEDUP,
    "streaming_sketch_maintenance": ORACLE_STREAMING_SKETCH_MAINTENANCE,
    "checkpoint_resume": ORACLE_CHECKPOINT_RESUME,
    "incremental_update": ORACLE_INCREMENTAL_UPDATE,
    "streaming_windowed_users": ORACLE_STREAMING_WINDOWED_USERS,
    "dup_clusters": ORACLE_DUP_CLUSTERS,
    "dup_clusters_star": ORACLE_DUP_CLUSTERS,
    "dedup_keep_best": ORACLE_DEDUP_KEEP_BEST,
    "cms_join_size": ORACLE_CMS_JOIN_SIZE,
    "sql_sketch_estimate": ORACLE_SQL_SKETCH_ESTIMATE,
    "moments_ntok_quantiles": ORACLE_MOMENTS_NTOK_QUANTILES,
    "sql_bloom_agg_e2e": ORACLE_BLOOM_SEMIJOIN,
    "mg_top_words": ORACLE_MG_TOP_WORDS,
    "multimodal_audio_features": ORACLE_MULTIMODAL_AUDIO_FEATURES,
    "multimodal_video_frames": ORACLE_MULTIMODAL_VIDEO_FRAMES,
    "semantic_dedup": ORACLE_SEMANTIC_DEDUP,
    "dsir_select": ORACLE_DSIR_SELECT,
    "sbbf_semijoin": ORACLE_SBBF_SEMIJOIN,
    "cbf_delete_semijoin": ORACLE_CBF_DELETE_SEMIJOIN,
    "source_divergence": ORACLE_SOURCE_DIVERGENCE,
    "source_pairwise_jsd": ORACLE_SOURCE_PAIRWISE_JSD,
    "xor_semijoin": ORACLE_XOR_SEMIJOIN,
    "contamination_xor": ORACLE_CONTAMINATION_XOR,
    "dedup_tokens": ORACLE_DEDUP_TOKENS,
    "pmi_bigrams": ORACLE_PMI_BIGRAMS,
    "zipf_alpha": ORACLE_ZIPF_ALPHA,
    "asof_join": ORACLE_ASOF_JOIN,
    "sessionize": ORACLE_SESSIONIZE,
    "range_join": ORACLE_RANGE_JOIN,
    "retention_cohorts": ORACLE_RETENTION_COHORTS,
    "funnel_steps": ORACLE_FUNNEL_STEPS,
}
