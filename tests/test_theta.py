"""Theta/KMV sketch: estimate bounds, merge algebra, accurate set ops,
serialization, and the Spark grouped-build path."""

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from presto_bloomfilter_spark.functions.serialization import sketch_from_bytes
from presto_bloomfilter_spark.functions.theta import ThetaSketch


def test_exact_below_capacity():
    sk = ThetaSketch(k=64)
    sk.add_ints(np.arange(50))
    assert sk.estimate() == 50.0
    assert sk.theta == 1.0


def test_estimate_within_bound():
    sk = ThetaSketch()
    n = 200_000
    sk.add_ints(np.arange(n))
    assert abs(sk.estimate() - n) / n <= 3 * sk.relative_error


def test_merge_algebra_and_partition_invariance():
    vals = np.arange(100_000)
    whole = ThetaSketch().add_ints(vals)
    # any split produces byte-identical union state (k smallest overall)
    for cut in (1, 1000, 99_999):
        left = ThetaSketch().add_ints(vals[:cut])
        right = ThetaSketch().add_ints(vals[cut:])
        assert left.merge(right) == whole
    # idempotent
    assert whole.copy().merge(whole) == whole


def test_set_operations_accuracy():
    a = ThetaSketch().add_ints(np.arange(0, 60_000))
    b = ThetaSketch().add_ints(np.arange(40_000, 100_000))
    assert abs(a.intersection_estimate(b) - 20_000) / 20_000 <= 0.15
    assert abs(a.jaccard_estimate(b) - 0.2) <= 0.03
    assert abs(a.difference_estimate(b) - 40_000) / 40_000 <= 0.1
    # disjoint
    c = ThetaSketch().add_ints(np.arange(10**7, 10**7 + 50_000))
    assert a.intersection_estimate(c) / 60_000 <= 0.02


def test_roundtrip_and_registry():
    sk = ThetaSketch(k=256).add_strings(["a", "b", "c"])
    rt = sketch_from_bytes(sk.to_bytes())
    assert isinstance(rt, ThetaSketch) and rt == sk
    with pytest.raises(ValueError):
        ThetaSketch(k=8)


@settings(max_examples=30, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**40), min_size=0, max_size=500))
def test_merge_commutative(vals):
    half = len(vals) // 2
    a1 = ThetaSketch(k=64).add_ints(np.array(vals[:half], dtype=np.int64))
    b1 = ThetaSketch(k=64).add_ints(np.array(vals[half:], dtype=np.int64))
    ab = a1.copy().merge(b1)
    ba = b1.copy().merge(a1)
    assert ab == ba


def test_grouped_theta_build_spark(spark, sf_dir):
    from presto_bloomfilter_spark.operators import aggregate as agg
    from presto_bloomfilter_spark.sources.corpus import load_tokens

    from pyspark.sql import functions as F

    tokens = load_tokens(spark, sf_dir)
    per_src = agg.grouped_sketch(tokens, "source", agg.sketch_spec(ThetaSketch, "tokens", "tokens"))
    sk = {r[0]: sketch_from_bytes(r.sketch) for r in per_src.collect()}
    exact = {r[0]: r[1] for r in tokens.select("source", F.explode("tokens").alias("t"))
             .groupBy("source").agg(F.countDistinct("t")).collect()}
    for s, n in exact.items():
        assert abs(sk[s].estimate() - n) / n <= 3 * sk[s].relative_error, (s, sk[s].estimate(), n)
