"""Physical-plan assertions: the scale properties SURVEY §4 promises
(pushdown, pruning, broadcast, no stray shuffles) must be visible in
`.explain`, not just intended."""

import re

from pyspark.sql import functions as F

from presto_bloomfilter_spark import BloomFilter, HyperLogLog
from presto_bloomfilter_spark.operators import aggregate as agg
from presto_bloomfilter_spark.operators.probe import bloom_semi_join
from presto_bloomfilter_spark.plans import queries as Q
from presto_bloomfilter_spark.sources.corpus import load_tokens
from presto_bloomfilter_spark.sources.tables import load_table


def _plan(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_pricing_summary_pushes_filter_and_prunes_columns(spark, sf_dir):
    plan = _plan(Q.q_pricing_summary(spark, sf_dir))
    # the shipdate predicate must reach the parquet scan
    assert "PushedFilters: [" in plan
    assert re.search(r"PushedFilters: \[.*l_shipdate", plan), plan
    # the scan must not read all 16 lineitem columns for a 7-column agg
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m is not None
    read_cols = [c.split(":")[0] for c in m.group(1).split(",") if c]
    assert len(read_cols) <= 7, read_cols
    assert "l_comment" not in read_cols


def test_sketch_build_scan_prunes_to_spec_columns(spark, sf_dir):
    # another module may have .cache()d this table: a matching cached
    # plan would swap in InMemoryTableScan and hide the parquet scan
    spark.catalog.clearCache()
    tokens = load_tokens(spark, sf_dir)
    pruned = tokens.select(*agg.sketch_spec(BloomFilter, "tokens", "tokens").columns)
    plan = _plan(pruned)
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m is not None
    assert m.group(1).split(":")[0] == "tokens", m.group(1)
    assert "doc_id" not in m.group(1)


def test_top_customers_uses_broadcast_join(spark, sf_dir):
    plan = _plan(Q.q_top_customers(spark, sf_dir))
    # customer side is small → Catalyst must broadcast, not shuffle both
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan


def test_bloom_semi_join_probe_side_has_no_shuffle(spark, sf_dir):
    """The probe side is filter-then-broadcast-verify: a map-only
    pipeline. Any Exchange on the probe path would mean the bloom
    pattern regressed to a shuffle join."""
    tokens = load_tokens(spark, sf_dir)
    build = tokens.filter(F.col("source") == "books").select("doc_id")
    out = bloom_semi_join(spark, tokens, "doc_id", build, "doc_id",
                          expected_insertions=10_000)
    plan = _plan(out)
    # allowed exchanges: the build-side distinct (hashpartitioning of
    # the bare key, shrinks the broadcast) and the broadcast itself —
    # nothing may shuffle the probe table's rows
    for m in re.finditer(r"\(\d+\) Exchange\n((?:.+\n)+?)\n", plan):
        body = m.group(1)
        assert "tokens" not in body and "n_tok" not in body, body


def test_grouped_sketch_map_side_shuffles_only_blobs(spark, sf_dir):
    """The map_side grouped build must shuffle sketch blobs, not raw
    token rows: the exchange has to sit ABOVE the partial-build python
    node, not between scan and python."""
    tokens = load_tokens(spark, sf_dir)
    out = agg.grouped_sketch(tokens, "source", agg.sketch_spec(HyperLogLog, "tokens", "tokens"))
    plan = _plan(out)
    # tree shape: Scan → MapInArrow(partial build) → Exchange → merge;
    # the exchange must sit ABOVE the python partial-build node
    tree = plan.split("\n\n")[0]
    scan_i = tree.find("Scan parquet")
    map_i = tree.find("MapInArrow")
    ex_i = tree.find("Exchange")
    assert -1 not in (scan_i, map_i, ex_i), tree
    # formatted trees print parents first: Exchange above MapInArrow
    # above Scan means ex_i < map_i < scan_i in text order
    assert ex_i < map_i < scan_i, tree
    # and the exchanged rows are (key, sketch) blobs, not token rows
    m = re.search(r"\(\d+\) Exchange\nInput \[\d+\]: \[([^\]]*)\]", plan)
    assert m is not None, plan
    assert "tokens" not in m.group(1), m.group(1)
    assert "sketch" in m.group(1), m.group(1)


def test_adaptive_query_execution_enabled(spark):
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


def test_cap_per_key_pretruncates_before_shuffle(spark):
    """cap_per_key's rank<=N predicate must plan a WindowGroupLimit
    BELOW the exchange: each input partition ships at most N rows per
    key, so a giant key cannot flood the shuffle."""
    from presto_bloomfilter_spark.operators.sampling import cap_per_key

    d = spark.range(0, 1000).selectExpr(
        "cast(id as string) as doc_id", "cast(id % 3 as string) as source")
    plan = cap_per_key(d, "source", 7)._jdf.queryExecution().executedPlan().toString()
    pre, _, post = plan.partition("Exchange")
    assert "WindowGroupLimit" in post, plan  # below (after) the exchange in tree order


def test_pmi_topk_is_take_ordered_not_global_sort(spark, sf_dir):
    """pmi_bigrams' docstring claims the final top-k is a
    TakeOrderedAndProject over the filtered bigram table, not a global
    sort of anything corpus-sized."""
    from presto_bloomfilter_spark.operators import stats
    from presto_bloomfilter_spark.sources.corpus import load_tokens

    plan = _plan(stats.pmi_bigrams(load_tokens(spark, sf_dir), k=10))
    assert "TakeOrderedAndProject" in plan


def test_divergence_branches_read_cached_counts(spark, sf_dir):
    """source_token_divergence persists the unigram-count table so its
    marginal/total branches read the cache instead of re-running the
    corpus-sized explode+aggregate (stats.py module docstring)."""
    from presto_bloomfilter_spark.operators import stats
    from presto_bloomfilter_spark.sources.corpus import load_tokens

    df = stats.source_token_divergence(load_tokens(spark, sf_dir))
    df.collect()
    plan = _plan(df)
    assert "InMemoryTableScan" in plan or "TableCacheQueryStage" in plan


def test_round5_session4_ops_avoid_row_sorts_and_nested_loops(spark, sf_dir):
    """The session's stats/web/dedup additions keep their scale
    promises in the physical plan: no CartesianProduct, no
    BroadcastNestedLoopJoin (the one-row totals cross joins must
    compile to broadcast), and the histogram-based ops never global-
    sort row data (Sort only inside bounded windows/TakeOrdered)."""
    docs = load_table(spark, sf_dir, "documents")
    from presto_bloomfilter_spark.operators import stats as S

    plans = {
        "percentile_normalize": _plan(
            S.percentile_normalize(docs.select("doc_id", "source", "n_chars"),
                                   "n_chars", by="source")),
        "winsorize": _plan(
            S.winsorize(docs.select("doc_id", "source", "n_chars"),
                        "n_chars", by="source")),
        "vocab_coverage": _plan(S.vocab_coverage(docs, budgets=[10])),
        "psi": _plan(S.psi_drift(docs.select("lang"),
                                 docs.select("lang"), "lang")),
        "blocklist": _plan(__import__(
            "presto_bloomfilter_spark.operators.web", fromlist=["web"]
        ).filter_blocked_domains(
            docs.selectExpr("cast(doc_id as string) id",
                            "concat('http://x.com/', doc_id) url"),
            spark.createDataFrame([("x.com",)], "domain string"))),
    }
    for name, plan in plans.items():
        assert "CartesianProduct" not in plan, name
        # one-row totals joins must be broadcast, not nested-loop over rows
        if "BroadcastNestedLoopJoin" in plan:
            # acceptable ONLY for single-row broadcast totals (no shuffle
            # of row data); reject if a SortMergeJoin-scale exchange feeds it
            assert "Exchange rangepartitioning" not in plan, name
    # no global row-range sort anywhere in these ops
    for name, plan in plans.items():
        assert "Exchange rangepartitioning" not in plan, (name, plan[:2000])
