"""sketch_spec: one spec constructor for every (sketch kind, column input).

The golden digests are the sha256 of the blobs the former per-kind
constructors (``bloom_over_strings`` … ``mg_over_tokens``, now deleted)
built from the seeded batches below; each sketch_spec equivalent must
build the same bytes.
"""

import hashlib

import numpy as np
import pyarrow as pa
import pytest

from presto_bloomfilter_spark import (
    BloomFilter, CountingBloomFilter, CountMinSketch, CountSketch, DDSketch, ExactGram,
    FrequentDirections, HyperLogLog, KLLSketch, MisraGries, MomentsSketch,
    SplitBlockBloomFilter, TDigest, ThetaSketch, XorFilter)
from presto_bloomfilter_spark.functions.multi import MultiSketch
from presto_bloomfilter_spark.operators import aggregate as agg
from presto_bloomfilter_spark.operators.aggregate import TokenDedupAccumulator, sketch_spec

D = 8


def _batches():
    """Three seeded batches (one of a single row): Zipf strings, int64
    with NULLs, Zipf token lists (some empty), lognormal floats and
    D-dim vectors."""
    rng = np.random.default_rng(20261017)
    out = []
    for n in (700, 1, 523):
        words = [f"w{int(v)}" for v in rng.zipf(1.3, n) % 5000]
        ints = rng.integers(-(1 << 40), 1 << 40, n)
        ints[rng.random(n) < 0.1] = 0
        mask = rng.random(n) < 0.05
        lens = rng.integers(0, 40, n)
        toks = [(rng.zipf(1.2, int(k)) % 30000).astype(np.int32) for k in lens]
        floats = rng.lognormal(0.0, 2.0, n)
        vecs = rng.normal(size=(n, D))
        out.append(pa.RecordBatch.from_arrays(
            [pa.array(words, pa.string()),
             pa.array(ints, pa.int64(), mask=mask),
             pa.array(toks, pa.list_(pa.int32())),
             pa.array(floats, pa.float64()),
             pa.array(list(vecs), pa.list_(pa.float64()))],
            ["s", "i", "tokens", "x", "v"]))
    return out


# former constructor → (its sketch_spec equivalent, golden blob sha256)
GOLDEN = {
    "bloom_over_strings": (lambda: sketch_spec(BloomFilter, "s", "strings"),
                           "462ef6c773d1b67cfdc57d9a220f6673840ff87791b7c6d7344edd99d955f431"),
    "bloom_over_tokens": (lambda: sketch_spec(BloomFilter, "tokens", "tokens"),
                          "cc3aeb748af6cccdfc8317e106ae3173d2a83f9e637b29294e88b3f873358064"),
    "bloom_over_ints": (lambda: sketch_spec(BloomFilter, "i", "ints"),
                        "8579963fc4d15dabdd3d97d191effe8aee94531a52ed531f729be24fb9929dce"),
    "sbbf_over_strings": (lambda: sketch_spec(SplitBlockBloomFilter, "s", "strings"),
                          "dcb56c18a696fd6ac4943fa568663eb99df1cdc9cd8378d9642b931e60fb43bb"),
    "sbbf_over_tokens": (lambda: sketch_spec(SplitBlockBloomFilter, "tokens", "tokens"),
                         "dff560a8cbfdf21ed0fd343ced575c3ebb655b7543a9a42b0e7c2ace9287edb2"),
    "sbbf_over_ints": (lambda: sketch_spec(SplitBlockBloomFilter, "i", "ints"),
                       "b9f1f7bef797ce194a9ef56186b25abed8197ac2b4fd0cb130a8c8964f22aec9"),
    "cbf_over_strings": (lambda: sketch_spec(CountingBloomFilter, "s", "strings"),
                         "4198e8c453faaa271a395e8c24632c18df68bae49163a9ae53e3e836f7717a63"),
    "cbf_over_ints": (lambda: sketch_spec(CountingBloomFilter, "i", "ints"),
                      "4f56f902bc8c5ba02e1912b1351edc5ea4abe1c33e8c3112159f8aade40eb523"),
    "hll_over_strings": (lambda: sketch_spec(HyperLogLog, "s", "strings"),
                         "2668a66c8724acac9e70b6a8c0f3e5832af6b5f36a8fdfa238a3b00fb1cd88d5"),
    "hll_over_tokens": (lambda: sketch_spec(HyperLogLog, "tokens", "tokens"),
                        "c3d442a396ca94622b0c7fb55c47c815cfcbf26e5e634ed52e196704083799f7"),
    "cms_over_tokens": (lambda: sketch_spec(CountMinSketch, "tokens", "tokens"),
                        "dd7cff9fe60c95de2d1c092e7263d944b10373b80a3cc0cb6bc6aa451575e3fa"),
    "cms_over_strings": (lambda: sketch_spec(CountMinSketch, "s", "strings"),
                         "b921918505fdb9b34b1aac059726ee4671cb662395955f52c50de72dd0ed1e07"),
    "cms_over_ints": (lambda: sketch_spec(CountMinSketch, "i", "ints"),
                      "242e8bc5121fd8f6f794773bc8a36150ef91d01710410ed407ff08ea61c696bb"),
    "fd_over_vectors": (lambda: sketch_spec(FrequentDirections, "v", "vectors", D),
                        "0c116d6fbe9428a1c0cfd207b22ce2952a49c2a6cef3102757848a4798718996"),
    "gram_over_vectors": (lambda: sketch_spec(ExactGram, "v", "vectors", D),
                          "90d59591cc512e6bb9403fd3df0f476a8c2b188600934fe6a28176eae161e8c0"),
    "countsketch_over_strings": (lambda: sketch_spec(CountSketch, "s", "strings"),
                                 "eccc7bc4fcb73b226025ce2c0c587f5238956113913e4c5467afe9ef7ad328ca"),
    "countsketch_over_ints": (lambda: sketch_spec(CountSketch, "i", "ints"),
                              "c72b198a037f4ac1516957a23dcc461b508a8de099827c4225c862530a7fb38e"),
    "theta_over_strings": (lambda: sketch_spec(ThetaSketch, "s", "strings"),
                           "e6881b317d65dd8d29fbd690d5131f25ad0378b333ea4abd5babcafe278f1a13"),
    "theta_over_tokens": (lambda: sketch_spec(ThetaSketch, "tokens", "tokens"),
                          "4aa4fe02d987fd40d3fed9b7d0c99907ee940cb53c551f7304ca838347eeeb70"),
    "kll_over_column": (lambda: sketch_spec(KLLSketch, "x", "floats"),
                        "952748c2b4ae01b0eaadc8a2861267419ee7159323816c79ed4a8c0829f16dce"),
    "tdigest_over_column": (lambda: sketch_spec(TDigest, "x", "floats"),
                            "3fd70c015cb6569a8af279001cb4ba3c38de5f785431eb47d36fcfc84f0c81e2"),
    "moments_over_column": (lambda: sketch_spec(MomentsSketch, "x", "floats", 0.0, 1e4),
                            "0715ee1c5ebcb07addaeeef2d877e1d8ad801b56f2d65b93f969c620b9e93676"),
    "ddsketch_over_column": (lambda: sketch_spec(DDSketch, "x", "floats"),
                             "493138529e6edf9792dfc4bbe94ae466c512d64aa4783bd03d2ed89a6408bac8"),
    "mg_over_strings": (lambda: sketch_spec(MisraGries, "s", "strings"),
                        "cd9d9a352086733a71cc2045898cf2306e48edc894bf5536d6b7a1fad3024b08"),
    "mg_over_tokens": (lambda: sketch_spec(MisraGries, "tokens", "tokens"),
                       "f1470893c9af2d89a08c2b979f5fd19defb5fbcee813275b342b54201f3241f3"),
    # non-default geometry pins the positional constructor-argument order
    "bloom_over_tokens(n, p)": (lambda: sketch_spec(BloomFilter, "tokens", "tokens", 50_000, 0.001),
                                "c7538ee046df8389550eeaf8a252dbafc7045c3148bcef9f64d7b941a8a34342"),
    "cms_over_ints(eps, delta)": (lambda: sketch_spec(CountMinSketch, "i", "ints", 1e-3, 0.05),
                                  "2a3a47669740b57eb73468aac47dc30b4c9668770f9bd4bf35ae328e6ad58468"),
    "mg_over_tokens(k)": (lambda: sketch_spec(MisraGries, "tokens", "tokens", 64),
                          "ecd366067b03387872e32d51e0cb9805a10021ea5b0bd34cf53972717b39cef1"),
    "ddsketch_over_column(alpha, max_bins)": (
        lambda: sketch_spec(DDSketch, "x", "floats", 0.05, 64),
        "9f6043dd6fa1a1bfbd8275cca61453e7bbd02ac68cca8666bd3ffa46ad2ded93"),
    "fd_over_vectors(ell)": (lambda: sketch_spec(FrequentDirections, "v", "vectors", D, 4),
                             "13985efad2f0df96a54a9d2950d1b5a28231f67280d567b3fa90089e0e50d142"),
    "token_family_over_tokens": (lambda: agg.token_family_over_tokens("tokens"),
                                 "a6707691909f430a7b18ec910382b61194d920bdcf181820f7b20494180353f6"),
}


def _build_digest(spec) -> str:
    sk = spec.factory()
    for b in _batches():
        spec.update(sk, b)
    return hashlib.sha256(sk.to_bytes()).hexdigest()


@pytest.mark.parametrize("former", list(GOLDEN))
def test_blob_matches_former_constructor(former):
    make, digest = GOLDEN[former]
    assert _build_digest(make()) == digest


@pytest.mark.parametrize("kind,input", [
    (KLLSketch, "strings"), (BloomFilter, "floats"), (BloomFilter, "vectors"),
    (FrequentDirections, "floats"), (CountingBloomFilter, "tokens"), (HyperLogLog, "ints"),
    (MultiSketch, "strings"), (XorFilter, "ints"), (BloomFilter, "bytes"), (dict, "ints"),
])
def test_unsupported_pair_raises_at_build(kind, input):
    with pytest.raises(ValueError, match="cannot build"):
        sketch_spec(kind, "c", input)


def test_tokens_dedup_only_where_collapsing_is_exact():
    for kind in (BloomFilter, SplitBlockBloomFilter, HyperLogLog, ThetaSketch, CountMinSketch):
        acc = sketch_spec(kind, "tokens", "tokens").factory()
        assert isinstance(acc, TokenDedupAccumulator)
        assert acc.weighted == (kind is CountMinSketch)
    assert isinstance(sketch_spec(MisraGries, "tokens", "tokens").factory(), MisraGries)


def test_factory_sketches_share_no_state():
    """Constructor args that are sketches (MultiSketch parts) are copied
    per factory call, so two partials never alias one part."""
    spec = agg.token_family_over_tokens("tokens", bloom_n=1000)
    a, b = spec.factory().sketch, spec.factory().sketch
    assert all(pa_ is not pb for pa_, pb in zip(a.parts, b.parts))
    a.add_ints(np.arange(100))
    assert a.to_bytes() != b.to_bytes()
    assert isinstance(a, MultiSketch)


def test_kept_names_are_sketch_spec_calls():
    for name in ("kll_over_column", "hll_over_strings"):
        kept = getattr(agg, name)("x")
        assert kept.columns == ("x",)
    assert isinstance(agg.kll_over_column("x").factory(), KLLSketch)
    assert isinstance(agg.hll_over_strings("x", 10).factory(), HyperLogLog)
    assert agg.hll_over_strings("x", 10).factory().precision == 10
