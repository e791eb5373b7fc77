"""KMV / theta sketch: distinct counting WITH accurate set operations.

HLL intersections degrade because inclusion-exclusion subtracts three
noisy estimates (functions/hll.py set-operation notes).  The theta
family fixes this by keeping an actual uniform SAMPLE of the distinct
hash space: the k minimum values (KMV).  With theta = k-th smallest
hash / 2^64, every retained hash is a uniform sample of the distinct
set at rate theta, so set EXPRESSIONS evaluate on the samples
directly:

- estimate:      (k - 1) / theta          (unbiased, RSE ~ 1/sqrt(k-2))
- union:         merge samples, keep k smallest  (associative,
                 commutative, idempotent — same algebra contract as
                 every other sketch here)
- intersection:  theta' = min(theta_a, theta_b); count common hashes
                 < theta'; estimate = count / theta' — error scales
                 with the INTERSECTION sample, not the union sizes
- jaccard:       |sample_a ∩ sample_b| / |sample_a ∪ sample_b| below
                 theta'.

Same vectorized batch interface (add_ints / add_strings over numpy,
no per-row Python) and PBFS serialization (kind 7) as the siblings, so
the aggregate/grouped/tree-merge dataflow works unchanged via
``sketch_spec(ThetaSketch, col, "tokens")`` (or ``"strings"``) in
operators/aggregate.py.
"""

from __future__ import annotations

import numpy as np

from presto_bloomfilter_spark.functions import serialization as ser
from presto_bloomfilter_spark.functions.hashing import hash_ints64, hash_strings64

_U64 = np.uint64
_MAX = float(2**64)


@ser.register_kind(ser.KIND_THETA)
class ThetaSketch:
    DEFAULT_K = 4096

    def __init__(self, k: int = DEFAULT_K, _values: np.ndarray | None = None):
        if k < 16:
            raise ValueError("k must be >= 16")
        self.k = int(k)
        self.values = (
            _values if _values is not None else np.empty(0, dtype=_U64)
        )  # sorted unique uint64, len <= k

    # ---- updates -------------------------------------------------------------

    def _update(self, h: np.ndarray) -> None:
        if h.size == 0:
            return
        merged = np.union1d(self.values, h)  # sorted unique
        self.values = merged[: self.k]

    def add_ints(self, values) -> "ThetaSketch":
        a = np.asarray(values)
        if a.size:
            self._update(hash_ints64(a))
        return self

    def add_strings(self, values) -> "ThetaSketch":
        import pandas as pd

        s = values if isinstance(values, pd.Series) else pd.Series(values, dtype=object)
        s = s[s.notna()]
        if len(s):
            self._update(hash_strings64(s))
        return self

    # ---- estimates -----------------------------------------------------------

    @property
    def theta(self) -> float:
        """Sampling threshold: retained hashes are a uniform sample of
        the distinct set at rate theta."""
        if len(self.values) < self.k:
            return 1.0
        return float(self.values[self.k - 1]) / _MAX

    @property
    def relative_error(self) -> float:
        """Published RSE bound ~ 1/sqrt(k - 2) in estimation mode."""
        return 1.0 / np.sqrt(self.k - 2)

    def estimate(self) -> float:
        if len(self.values) < self.k:
            return float(len(self.values))  # exact below capacity
        return (self.k - 1) / self.theta

    # ---- merge (union) -------------------------------------------------------

    def merge(self, other: "ThetaSketch") -> "ThetaSketch":
        if not isinstance(other, ThetaSketch):
            raise TypeError("can only merge ThetaSketch with ThetaSketch")
        if self.k != other.k:
            raise ValueError(f"k mismatch: {self.k} vs {other.k}")
        self._update(other.values)
        return self

    def copy(self) -> "ThetaSketch":
        return ThetaSketch(self.k, _values=self.values.copy())

    # ---- set operations ------------------------------------------------------

    def _below(self, theta: float) -> np.ndarray:
        cut = _U64(min(int(theta * _MAX), 2**64 - 1))
        return self.values[self.values < cut] if theta < 1.0 else self.values

    def intersection_estimate(self, other: "ThetaSketch") -> float:
        th = min(self.theta, other.theta)
        common = np.intersect1d(self._below(th), other._below(th), assume_unique=True)
        return len(common) / th

    def jaccard_estimate(self, other: "ThetaSketch") -> float:
        th = min(self.theta, other.theta)
        a, b = self._below(th), other._below(th)
        union = np.union1d(a, b)
        if len(union) == 0:
            return 1.0
        return np.intersect1d(a, b, assume_unique=True).size / len(union)

    def difference_estimate(self, other: "ThetaSketch") -> float:
        """|A \\ B| on the common sample."""
        th = min(self.theta, other.theta)
        a, b = self._below(th), other._below(th)
        return np.setdiff1d(a, b, assume_unique=True).size / th

    # ---- serialization -------------------------------------------------------

    def to_bytes(self) -> bytes:
        return ser.encode(ser.KIND_THETA, {"k": self.k}, self.values.tobytes())

    @classmethod
    def _from_parts(cls, params: dict, payload: bytes) -> "ThetaSketch":
        return cls(int(params["k"]), _values=np.frombuffer(payload, dtype=_U64).copy())

    @classmethod
    def from_bytes(cls, buf: bytes) -> "ThetaSketch":
        kind, params, payload = ser.decode(buf)
        if kind != ser.KIND_THETA:
            raise ValueError("not a theta sketch blob")
        return cls._from_parts(params, payload)

    def __eq__(self, other) -> bool:
        return (
            isinstance(other, ThetaSketch)
            and self.k == other.k
            and bool(np.array_equal(self.values, other.values))
        )

    def __repr__(self) -> str:
        return f"ThetaSketch(k={self.k}, n_retained={len(self.values)}, theta={self.theta:.6f})"
