"""MultiSketch: several sketches built from one scan, merged elementwise.

The reference runs one aggregation per sketch because Presto plans each
UDAF separately.  In Spark dataflow the scan is the dominant cost of a
sketch build (parquet decode + transport dwarf the vectorized kernels),
so building the whole sketch family — bloom membership, CMS frequency,
HLL cardinality — in a single pass over the tokens column is the
natural fusion: one scan, one dedup pass, k sketch flushes.  MultiSketch
is the value that makes that fusion fit the existing partial/merge/
serialize protocol unchanged (operators/aggregate.py): it serializes as
one PBFS blob (kind 5) whose payload is the length-prefixed child blobs,
and merges by zipping children pairwise — still associative and
commutative because every child merge is.
"""

from __future__ import annotations

import inspect
import struct

from presto_bloomfilter_spark.functions import serialization as ser

_LEN = struct.Struct("<I")


def _accepts_counts(part) -> bool:
    """True iff part.add_ints takes a ``counts`` kwarg (weighted insert).

    Detected once from the signature — catching TypeError around the
    call would silently swallow a TypeError raised *inside* a weighted
    part (e.g. bad counts dtype) and retry it unweighted, undercounting.
    """
    try:
        return "counts" in inspect.signature(part.add_ints).parameters
    except (TypeError, ValueError):  # builtins without signatures
        return False


@ser.register_kind(ser.KIND_MULTI)
class MultiSketch:
    def __init__(self, parts: list):
        if not parts:
            raise ValueError("MultiSketch needs at least one part")
        self.parts = list(parts)
        self._weighted = [_accepts_counts(p) for p in self.parts]

    def add_ints(self, values, counts=None):
        for p, weighted in zip(self.parts, self._weighted):
            if weighted:
                p.add_ints(values, counts=counts)
            else:  # unweighted sketch (bloom/HLL): counts moot
                p.add_ints(values)
        return self

    def add_strings(self, values):
        for p in self.parts:
            p.add_strings(values)
        return self

    def merge(self, other: "MultiSketch") -> "MultiSketch":
        if not isinstance(other, MultiSketch) or len(other.parts) != len(self.parts):
            raise ValueError("MultiSketch merge requires identical composition")
        for a, b in zip(self.parts, other.parts):
            a.merge(b)
        return self

    def to_bytes(self) -> bytes:
        chunks = []
        for p in self.parts:
            b = p.to_bytes()
            chunks.append(_LEN.pack(len(b)))
            chunks.append(b)
        return ser.encode(ser.KIND_MULTI, {"n": len(self.parts)}, b"".join(chunks))

    @classmethod
    def _from_parts(cls, params: dict, payload: bytes) -> "MultiSketch":
        parts = []
        off = 0
        for _ in range(int(params["n"])):
            (ln,) = _LEN.unpack_from(payload, off)
            off += _LEN.size
            parts.append(ser.sketch_from_bytes(payload[off : off + ln]))
            off += ln
        return cls(parts)

    @classmethod
    def from_bytes(cls, buf: bytes) -> "MultiSketch":
        kind, params, payload = ser.decode(buf)
        if kind != ser.KIND_MULTI:
            raise ValueError("not a multi-sketch blob")
        return cls._from_parts(params, payload)

    def __repr__(self) -> str:
        return f"MultiSketch({', '.join(type(p).__name__ for p in self.parts)})"
