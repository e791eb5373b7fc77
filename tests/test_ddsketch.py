"""DDSketch (Masson et al. VLDB 2019): relative-error guarantee, lossless
byte-identical merge algebra, collapsing bound, serialization, guards."""

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from presto_bloomfilter_spark import DDSketch, sketch_from_bytes


def _rel_err(data, sk, q):
    exact = np.quantile(data, q, method="higher")
    est = sk.quantile(q)
    return abs(est - exact) / abs(exact)


def test_relative_error_guarantee_across_distributions():
    rng = np.random.default_rng(0)
    for data in (
        rng.uniform(1, 1e6, 20_000),
        rng.lognormal(3, 2.0, 20_000) + 0.001,
        rng.pareto(1.5, 20_000) + 1.0,
    ):
        sk = DDSketch(alpha=0.01).add(data)
        for q in (0.01, 0.1, 0.5, 0.9, 0.99, 0.999):
            assert _rel_err(data, sk, q) <= 0.0101, (q, _rel_err(data, sk, q))


def test_handles_zeros_and_negatives():
    rng = np.random.default_rng(1)
    data = np.concatenate([
        -rng.lognormal(2, 1, 5_000), np.zeros(1_000), rng.lognormal(2, 1, 5_000)
    ])
    sk = DDSketch(alpha=0.02).add(data)
    assert sk.n == len(data)
    for q in (0.05, 0.25, 0.75, 0.95):
        exact = np.quantile(data, q, method="higher")
        est = sk.quantile(q)
        if exact == 0.0:
            assert est == 0.0
        else:
            assert abs(est - exact) / abs(exact) <= 0.021


def test_merge_is_lossless_and_merge_order_invariant_bytes():
    """The family differentiator: unlike KLL/t-digest, merged bytes are
    identical for ANY merge tree — full associativity at the byte level."""
    rng = np.random.default_rng(2)
    data = rng.lognormal(3, 1, 12_000)
    chunks = np.split(data, 12)
    parts = [DDSketch(alpha=0.01).add(c) for c in chunks]

    left = parts[0].copy()
    for p in parts[1:]:
        left.merge(p)
    # balanced tree merge in a shuffled order
    order = rng.permutation(12)
    layer = [parts[i].copy() for i in order]
    while len(layer) > 1:
        layer = [layer[i].merge(layer[i + 1]) if i + 1 < len(layer) else layer[i]
                 for i in range(0, len(layer), 2)]
    full = DDSketch(alpha=0.01).add(data)
    assert left.to_bytes() == layer[0].to_bytes() == full.to_bytes()
    assert left == full


def test_collapsing_bounds_size_and_keeps_upper_quantiles():
    rng = np.random.default_rng(3)
    data = rng.lognormal(0, 3, 50_000)  # ~1200 buckets at alpha=0.01
    sk = DDSketch(alpha=0.01, max_bins=768).add(data)
    assert len(sk._pos_idx) <= 768
    assert sk.collapsed
    # the folded mass sits below ~p3; everything above is untouched
    for q in (0.1, 0.5, 0.9, 0.99):
        assert _rel_err(data, sk, q) <= 0.0101, q


@settings(max_examples=60, deadline=None)
@given(st.lists(st.floats(-60.0, 60.0), min_size=1, max_size=300),
       st.lists(st.integers(0, 400), max_size=6), st.randoms(use_true_random=False))
def test_past_max_bins_bytes_stay_merge_order_free_and_upper_quantiles_keep_alpha(
        log_values, cuts, rnd):
    """Input that crosses max_bins: the fold happens, the bytes still do
    not depend on how the input is split or merged, and exactly the
    quantiles above the fold bucket keep the alpha bound."""
    alpha, max_bins = 0.05, 16
    ladder = np.geomspace(1e-3, 1e3, 60)  # ~70 buckets: always crosses max_bins
    data = np.concatenate([ladder, np.exp(log_values)])
    direct = DDSketch(alpha, max_bins).add(data)
    assert direct.collapsed and len(direct._pos_idx) == max_bins
    assert direct.n == len(data)

    parts = [DDSketch(alpha, max_bins).add(c)
             for c in np.split(rnd.sample(list(data), len(data)), sorted(cuts))]
    while len(parts) > 1:  # random pairwise merge tree
        i = rnd.randrange(len(parts) - 1)
        a, b = parts.pop(i), parts.pop(i)
        parts.insert(i, a.merge(b) if rnd.random() < 0.5 else b.merge(a))
    assert parts[0].to_bytes() == direct.to_bytes()

    fold = int(direct._pos_idx[0])
    for q in np.linspace(0.0, 1.0, 41):
        exact = np.quantile(data, q, method="higher")
        est = direct.quantile(q)
        if direct._bucket(np.array([exact]))[0] > fold:
            assert abs(est - exact) <= alpha * exact * (1 + 1e-9), q
        else:
            assert est == direct._value(np.array([fold]))[0], q


def test_serialization_roundtrip_and_kind_dispatch():
    rng = np.random.default_rng(4)
    sk = DDSketch(alpha=0.005).add(np.concatenate(
        [rng.uniform(1, 100, 3_000), [-5.0, 0.0, 0.0]]))
    blob = sk.to_bytes()
    back = sketch_from_bytes(blob)
    assert isinstance(back, DDSketch)
    assert back == sk
    assert back.to_bytes() == blob
    assert back.quantile(0.5) == sk.quantile(0.5)


def test_guards():
    with pytest.raises(ValueError):
        DDSketch(alpha=0.0)
    with pytest.raises(ValueError):
        DDSketch(max_bins=4)
    with pytest.raises(ValueError):
        DDSketch().add([np.nan])
    with pytest.raises(ValueError):
        DDSketch().quantile(0.5)
    with pytest.raises(ValueError):
        DDSketch(alpha=0.01).merge(DDSketch(alpha=0.02))
    with pytest.raises(ValueError):
        DDSketch().add([1.0]).quantile(1.5)


def test_vector_quantiles_and_repr():
    sk = DDSketch().add(np.arange(1.0, 1001.0))
    qs = sk.quantile(np.array([0.1, 0.5, 0.9]))
    assert qs.shape == (3,)
    assert np.all(np.diff(qs) > 0)
    assert "DDSketch" in repr(sk)
