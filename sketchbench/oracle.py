"""Exact answers from the seeded inputs, and the checks that hold each
sketch to them.

Every check returns a list of failure messages (empty when the answer is
right), so one wrong answer is counted once and the run goes on.  The
bounds are the published ones, with slack only where a bound is itself
probabilistic (binomial slack over the number of queries)."""

from __future__ import annotations

import hashlib
import math

import numpy as np

from harness import allowed_violations

# four standard errors: a correct sketch fails a single check with
# probability ~6e-5
SIGMAS = 4.0


def check_no_false_negatives(hits: np.ndarray, what: str) -> list[str]:
    misses = int(len(hits) - int(np.count_nonzero(hits)))
    return [f"{what}: {misses} false negatives of {len(hits)} members"] if misses else []


def check_fpr(hits: np.ndarray, p: float, what: str) -> list[str]:
    """Observed false-positive rate over held-out non-members stays within
    the configured p plus binomial slack."""
    n = len(hits)
    if n == 0:
        return [f"{what}: no held-out non-members to probe"]
    fpr = float(np.count_nonzero(hits)) / n
    limit = p + SIGMAS * math.sqrt(p * (1.0 - p) / n)
    return [f"{what}: observed FPR {fpr:.5f} > {limit:.5f}"] if fpr > limit else []


def check_cms(est: np.ndarray, exact: np.ndarray, eps: float, delta: float,
              total: int, what: str) -> list[str]:
    """Count-Min: never under-counts; over-counts by more than eps*N with
    probability at most delta per query."""
    est = np.asarray(est, dtype=np.int64)
    exact = np.asarray(exact, dtype=np.int64)
    under = int(np.count_nonzero(est < exact))
    over = int(np.count_nonzero(est - exact > eps * total))
    out = []
    if under:
        out.append(f"{what}: {under} under-counts")
    if over > allowed_violations(len(est), delta):
        out.append(f"{what}: {over} of {len(est)} estimates exceed eps*N={eps * total:.1f}")
    return out


def hll_bound(registers: int) -> float:
    """Published HyperLogLog standard error 1.04/sqrt(m), times SIGMAS."""
    return SIGMAS * 1.04 / math.sqrt(registers)


def check_relative(est: float, exact: float, bound: float, what: str) -> list[str]:
    err = abs(est - exact) / max(exact, 1.0)
    return [f"{what}: estimate {est:.1f} vs exact {exact} (rel err {err:.4f} > {bound:.4f})"] \
        if err > bound else []


def check_quantiles(values: np.ndarray, qs, answers, eps: float, what: str) -> list[str]:
    """Each answer's exact rank interval must lie within eps of its q
    (ties make the interval wide); eps is a 99%-confidence per-query
    bound, so a few misses among many queries are allowed."""
    xs = np.sort(np.asarray(values, dtype=np.float64))
    n = len(xs)
    bad = []
    for q, v in zip(qs, answers):
        lo = np.searchsorted(xs, v, side="left") / n
        hi = np.searchsorted(xs, v, side="right") / n
        if not (lo - eps <= q <= hi + eps):
            bad.append(f"q={q}: value {v} has rank [{lo:.4f}, {hi:.4f}]")
    if len(bad) > allowed_violations(len(qs), 0.01):
        return [f"{what}: " + "; ".join(bad)]
    return []


def check_equal_words(got: np.ndarray, expected: np.ndarray, what: str) -> list[str]:
    if got.shape != expected.shape:
        return [f"{what}: bitset of {got.size} words, expected {expected.size}"]
    diff = int(np.count_nonzero(got != expected))
    return [f"{what}: {diff} words differ from the driver fold"] if diff else []


def check_blob_roundtrip(stored: bytes, expected: bytes, header_hash: bytes,
                         payload: bytes, what: str) -> list[str]:
    out = []
    if stored != expected:
        out.append(f"{what}: stored blob differs from the persisted sketch")
    if header_hash != hashlib.sha256(payload).digest():
        out.append(f"{what}: header sha256 does not match the payload")
    return out


def check_same_rows(got: set, expected: set, what: str) -> list[str]:
    if got == expected:
        return []
    return [f"{what}: {len(got - expected)} unexpected rows, {len(expected - got)} missing rows"]
