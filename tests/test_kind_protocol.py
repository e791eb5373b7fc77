"""One protocol check over every registered sketch kind: the PBFS blob
round-trips byte for byte through the kind registry, and each class's
``from_bytes`` refuses another kind's blob with ValueError."""

import numpy as np
import pytest

from presto_bloomfilter_spark import (
    BloomFilter, CountingBloomFilter, CountMinSketch, CountSketch, DDSketch, ExactGram,
    FrequentDirections, HyperLogLog, KLLSketch, MisraGries, MomentsSketch,
    SplitBlockBloomFilter, TDigest, ThetaSketch, XorFilter, sketch_from_bytes)
from presto_bloomfilter_spark.functions import serialization as ser
from presto_bloomfilter_spark.functions.multi import MultiSketch

_IDS = np.arange(5_000, dtype=np.int64)
_FLOATS = np.random.default_rng(5).lognormal(2.0, 1.0, 2_000)
_ROWS = np.random.default_rng(6).normal(size=(50, 6))

# one non-empty instance per kind; a newly registered kind fails the
# test until it is added here
_MAKE = {
    BloomFilter: lambda: BloomFilter(10_000, 0.01).add_ints(_IDS),
    SplitBlockBloomFilter: lambda: SplitBlockBloomFilter(10_000, 0.01).add_ints(_IDS),
    CountingBloomFilter: lambda: CountingBloomFilter(10_000, 0.01).add_ints(_IDS),
    XorFilter: lambda: XorFilter.build_ints(_IDS),
    HyperLogLog: lambda: HyperLogLog().add_ints(_IDS),
    CountMinSketch: lambda: CountMinSketch(1e-3, 0.01).add_ints(_IDS % 97),
    CountSketch: lambda: CountSketch(512, 5).add_ints(_IDS % 97),
    ThetaSketch: lambda: ThetaSketch(256).add_ints(_IDS),
    MisraGries: lambda: MisraGries(64).add_ints(_IDS % 300),
    KLLSketch: lambda: KLLSketch().add(_FLOATS),
    TDigest: lambda: TDigest().add(_FLOATS),
    MomentsSketch: lambda: MomentsSketch(0.0, 1e4).add(_FLOATS),
    DDSketch: lambda: DDSketch().add(_FLOATS),
    FrequentDirections: lambda: FrequentDirections(6, 4).add(_ROWS),
    ExactGram: lambda: ExactGram(6).add(_ROWS),
    MultiSketch: lambda: MultiSketch([BloomFilter(10_000, 0.01), HyperLogLog()]).add_ints(_IDS),
}

_KINDS = sorted(ser._REGISTRY.items())


@pytest.mark.parametrize("kind,cls", _KINDS, ids=[c.__name__ for _, c in _KINDS])
def test_blob_round_trips_through_registry(kind, cls):
    sk = _MAKE[cls]()
    blob = sk.to_bytes()
    assert ser.read_kind(blob) == kind
    back = sketch_from_bytes(blob)
    assert type(back) is cls
    assert back.to_bytes() == blob
    assert cls.from_bytes(blob).to_bytes() == blob


@pytest.mark.parametrize("kind,cls", _KINDS, ids=[c.__name__ for _, c in _KINDS])
def test_from_bytes_rejects_other_kinds(kind, cls):
    for other_kind, other in _KINDS:
        if other_kind == kind:
            continue
        with pytest.raises(ValueError):
            cls.from_bytes(_MAKE[other]().to_bytes())
