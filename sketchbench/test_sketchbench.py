"""Tests for the benchmark itself, at tiny inputs.

    python -m pytest sketchbench/test_sketchbench.py -q

The first group runs each workload end to end (one short run per mode)
and checks that it prints every metric BENCHMARK.json names, with its
unit.  The second group feeds each correctness check a right answer and
a deliberately wrong one, in process, without Spark.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pytest

import harness
import oracle

BENCH = json.load(open(os.path.join(harness.REPO_ROOT, "BENCHMARK.json")))
sys.path.insert(0, harness.REPO_ROOT)

from presto_bloomfilter_spark.functions import serialization as ser  # noqa: E402
from presto_bloomfilter_spark.functions.bloom import BloomFilter  # noqa: E402
from presto_bloomfilter_spark.functions.cms import CountMinSketch  # noqa: E402
from presto_bloomfilter_spark.functions.hll import HyperLogLog  # noqa: E402
from presto_bloomfilter_spark.functions.kll import KLLSketch  # noqa: E402
from presto_bloomfilter_spark.functions.multi import MultiSketch  # noqa: E402

import workloads  # noqa: E402


# ---- every workload emits every metric ---------------------------------------------


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_workload_emits_every_metric(workload, trace):
    cmd = [sys.executable, os.path.join(harness.BENCH_DIR, "run.py"), "--workload", workload,
           "--seed", "5", "--seconds", "0.01", "--trace", str(trace), "--size", "tiny"]
    proc = subprocess.run(cmd, cwd=harness.REPO_ROOT, capture_output=True, text=True, timeout=180)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0, proc.stderr[-3000:]
    assert result["attempted"] >= 1
    spec = BENCH["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], float)
        # one short stdout line per metric, name and unit included
        assert any(ln.split()[:2] == ["metric", m["name"]] and ln.split()[-1] == m["unit"]
                   for ln in lines), m["name"]
    if not trace:
        assert all(result["metrics"][m]["value"] > 0 for m in ("setup_s", "job_s_p50", "jobs_per_s"))


def test_fails_without_the_library(tmp_path):
    """In a directory holding only the benchmark, the run fails fast and
    prints no result."""
    import shutil

    shutil.copy(os.path.join(harness.REPO_ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(harness.BENCH_DIR, tmp_path / "sketchbench",
                    ignore=shutil.ignore_patterns(".work", "out", "__pycache__"))
    proc = subprocess.run([sys.executable, "sketchbench/run.py", "--workload", "token_build",
                           "--seed", "1", "--seconds", "1", "--trace", "0"],
                          cwd=tmp_path, capture_output=True, text=True, timeout=60,
                          env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"})
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


# ---- statistics ------------------------------------------------------------------------


def test_tail_has_ten_samples_beyond_it():
    walls = list(range(1, 101))
    value, pct, n = harness.tail_stats(walls)
    assert n == 100 and sum(w > value for w in walls) == 10 and pct == 90.0
    assert harness.tail_stats([1.0, 2.0]) == (2.0, 100.0, 2)


# ---- checks reject wrong answers ---------------------------------------------------------


def test_bloom_checks_reject_wrong_filters():
    keys = np.arange(1000)
    good = BloomFilter(1000, 0.01).add_ints(keys)
    assert oracle.check_no_false_negatives(good.might_contain_ints(keys), "bf") == []
    empty = BloomFilter(1000, 0.01)
    assert oracle.check_no_false_negatives(empty.might_contain_ints(keys), "bf")
    held_out = np.arange(10_000, 30_000)
    assert oracle.check_fpr(good.might_contain_ints(held_out), 0.01, "bf") == []
    full = BloomFilter(1000, 0.01)
    full.words[:] = np.uint64(0xFFFFFFFFFFFFFFFF)
    assert oracle.check_fpr(full.might_contain_ints(held_out), 0.01, "bf")


def test_merged_bitset_check_rejects_one_wrong_bit():
    a = BloomFilter(1000, 0.01).add_ints(np.arange(500))
    b = BloomFilter(1000, 0.01).add_ints(np.arange(500, 1000))
    fold = np.bitwise_or.reduce([a.words, b.words])
    merged = a.copy().merge(b)
    assert oracle.check_equal_words(merged.words, fold, "m") == []
    merged.words[3] ^= np.uint64(1)
    assert oracle.check_equal_words(merged.words, fold, "m")


def test_cms_hll_kll_checks_reject_wrong_estimates():
    exact = np.array([100, 50, 10])
    assert oracle.check_cms(exact + 1, exact, 0.01, 0.01, 1000, "c") == []
    assert oracle.check_cms(exact - 1, exact, 0.01, 0.01, 1000, "c")  # under-count
    assert oracle.check_cms(exact + 500, exact, 0.01, 0.01, 1000, "c")  # beyond eps*N
    bound = oracle.hll_bound(1 << 14)
    assert oracle.check_relative(1010.0, 1000, bound, "h") == []
    assert oracle.check_relative(1500.0, 1000, bound, "h")
    values = np.arange(1000)
    qs = [0.1, 0.5, 0.9]
    assert oracle.check_quantiles(values, qs, [100, 500, 900], 0.01, "k") == []
    assert oracle.check_quantiles(values, qs, [300, 700, 990], 0.01, "k")


def test_blob_roundtrip_check_rejects_corruption():
    bf = BloomFilter(1000, 0.01).add_ints(np.arange(10))
    blob = bf.to_bytes()
    payload = bf.words.tobytes()
    assert oracle.check_blob_roundtrip(blob, blob, ser.read_hash(blob), payload, "b") == []
    bad = blob[:-1] + bytes([blob[-1] ^ 1])
    assert oracle.check_blob_roundtrip(bad, blob, ser.read_hash(bad), payload, "b")
    assert oracle.check_blob_roundtrip(blob, blob, b"\0" * 32, payload, "b")


def _token_build():
    from presto_bloomfilter_spark.sources.corpus import generate_tokens_table

    wl = workloads.TokenBuild(None, 5, "", "tiny")
    wl.table = generate_tokens_table(workloads.SIZES["tiny"]["docs"], 5)
    return wl


def _family(flat: np.ndarray) -> MultiSketch:
    sk = MultiSketch([BloomFilter(1_000_000, 0.01), CountMinSketch(1e-4, 0.01), HyperLogLog()])
    uniq, counts = np.unique(flat, return_counts=True)
    sk.parts[0].add_ints(uniq)
    sk.parts[1].add_ints(uniq, counts=counts)
    sk.parts[2].add_ints(uniq)
    return sk


def test_token_build_checks():
    wl = _token_build()
    flat = wl.table.column("tokens").combine_chunks().flatten().to_numpy()
    assert wl._check_family(_family(flat)) == []
    # a build that lost one partition's tokens
    assert wl._check_family(_family(flat[: len(flat) // 2]))
    n_tok = wl.table.column("n_tok").to_numpy()
    assert wl._check_kll(KLLSketch().add(n_tok.astype(float))) == []
    assert wl._check_kll(KLLSketch().add(n_tok[: len(n_tok) // 2].astype(float)))
    src = wl.table.column("source").to_pylist()
    ids = wl.table.column("doc_id").to_pylist()
    groups = {}
    for s, d in zip(src, ids):
        groups.setdefault(s, []).append(d)
    right = {s: HyperLogLog().add_strings(v).to_bytes() for s, v in groups.items()}
    assert wl._check_grouped(right) == []
    wrong = dict(right, web=HyperLogLog().add_strings(groups["web"][:10]).to_bytes())
    assert wl._check_grouped(wrong)
    del wrong["web"]
    assert wl._check_grouped(wrong)


def test_merge_persist_checks(tmp_path):
    wl = workloads.MergePersist(None, 5, str(tmp_path), "tiny")
    wl.prepare()
    assert wl.setup_checks() == []
    for key in wl.filters:
        wl.store.put(key, wl.filters[key])
        assert wl._check_put(key)(True) == []
    # a store that wrote the wrong filter under a key
    wl.store.put("sparse-0", wl.filters["sparse-1"])
    assert wl._check_put("sparse-0")(True)
    merged = wl.sparse[0].copy()
    for f in wl.sparse[1:]:
        merged.merge(f)
    assert wl._check_merged("sparse")(merged) == []
    assert wl._check_merged("sparse")(wl.sparse[0].copy())  # one shard missing
    assert wl._check_merged("sparse")(BloomFilter())  # empty filter


def test_probe_checks():
    import pandas as pd

    wl = workloads.Probe(None, 5, "", "tiny")
    wl.doc_ids = pd.Series([f"doc-{i:012d}" for i in range(2000)], dtype=object)
    wl.is_member = np.random.default_rng(5).random(2000) < 0.1
    wl.bf = BloomFilter().add_strings(wl.doc_ids[wl.is_member])
    assert wl.setup_checks() == []
    hits = [(d,) for d in wl.doc_ids[wl.expected_hits]]
    check = wl._check_rows(0, 2000, "api")
    assert check(hits) == []
    assert check(hits[1:])  # a member row lost
    assert check(hits + [("doc-999999999999",)])  # an extra row
