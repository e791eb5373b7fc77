"""North-star workload driver — the spark-submit entry point.

Runs the token-corpus sketch workload over the Iceberg-style tokens
table (doc_id, tokens, n_tok, source):

  1. per-token membership: corpus-wide Bloom filter (build + probe);
  2. per-token frequency: corpus-wide count-min sketch;
  3. distinct doc_id / distinct tokens by source: grouped HLL;
  4. per-sequence n_tok quantiles: KLL (global + per source);
  5. fused bloom+CMS+HLL family + t-digest; DDSketch relative-error
     quantiles and Count-Sketch F2 (round-5 families);
  6. persistence: every sketch lands in a SketchStore with a manifest;
     re-running the same job id resumes from the checkpoint and skips
     completed partitions.

Usage (local sandbox):

    spark-submit --master 'local[32]' \
        --py-files <(cd /root/repo && zip -r - presto_bloomfilter_spark) \
        tools/run_workload.py --sf-dir /root/testdata/sf0.1 \
        --store /tmp/sketch-store

  or plain:  python tools/run_workload.py [--sf-dir ...] [--cpus 32]

On a real cluster the same script runs unchanged with --master yarn/k8s
and the tokens path pointed at the production Iceberg table; metrics
print as one JSON line (rows/s, tokens/s, merge counts, sketch bytes).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ.setdefault("ARROW_DEFAULT_MEMORY_POOL", "system")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--store", default="/tmp/pbs-sketch-store")
    ap.add_argument("--job-id", default="northstar")
    ap.add_argument("--bloom-n", type=int, default=1_000_000)
    ap.add_argument("--fpp", type=float, default=0.01)
    args = ap.parse_args()

    from pyspark.sql import SparkSession, functions as F

    from presto_bloomfilter_spark import (
        BloomFilter, CountMinSketch, CountSketch, DDSketch, HyperLogLog, KLLSketch, TDigest)
    from presto_bloomfilter_spark.operators import aggregate as agg
    from presto_bloomfilter_spark.operators.probe import contains_udf
    from presto_bloomfilter_spark.sources.corpus import load_tokens
    from presto_bloomfilter_spark.store import SketchStore, checkpointed_aggregate

    spark = (
        SparkSession.builder.master(f"local[{args.cpus}]")
        .appName("pbs-northstar")
        .config("spark.sql.shuffle.partitions", str(args.cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    store = SketchStore(args.store)
    metrics: dict = {"sf_dir": args.sf_dir, "cpus": args.cpus}

    tokens = load_tokens(spark, args.sf_dir)
    n_docs = tokens.count()
    n_tokens = int(tokens.agg(F.sum("n_tok")).collect()[0][0])
    metrics["rows"] = n_docs
    metrics["tokens"] = n_tokens

    t_all = time.time()

    # 1. per-token membership bloom — built through the checkpointed
    # path: partial per partition persists before the final merge, so a
    # restarted job resumes from the manifest (per-partition lineage)
    t0 = time.time()
    bloom, built_parts = checkpointed_aggregate(
        spark, tokens, agg.sketch_spec(BloomFilter, "tokens", "tokens", args.bloom_n, args.fpp),
        store, f"{args.job_id}.bloom",
    )
    store.put(f"{args.job_id}.bloom", bloom)
    dt = time.time() - t0
    metrics["bloom"] = {
        "sec": round(dt, 3), "tokens_per_sec": round(n_tokens / dt),
        "partitions_built": built_parts, "size_bytes": bloom.size_bytes,
        "fill_ratio": round(bloom.fill_ratio, 4),
        "estimated_fpr": round(bloom.estimated_fpr(), 6),
    }
    # probe it back over the corpus (membership of every token's doc)
    t0 = time.time()
    n_hit = tokens.filter(
        contains_udf(spark, bloom, ints=True)(F.element_at(F.col("tokens"), 1))
    ).count()
    metrics["bloom_probe"] = {"sec": round(time.time() - t0, 3), "rows_hit": n_hit}

    # 2. per-token frequency CMS
    t0 = time.time()
    cms = agg.aggregate_sketch(tokens, agg.sketch_spec(CountMinSketch, "tokens", "tokens", eps=1e-4),
                               target_partials=args.cpus)
    store.put(f"{args.job_id}.cms", cms)
    dt = time.time() - t0
    metrics["cms"] = {"sec": round(dt, 3), "tokens_per_sec": round(n_tokens / dt),
                      "size_bytes": cms.size_bytes, "stream_weight": cms.estimate()}

    # 3. distinct doc_id / tokens by source (grouped HLL, map-side partials)
    t0 = time.time()
    per_src_docs = agg.grouped_sketch(
        tokens, "source", agg.sketch_spec(HyperLogLog, "doc_id", "strings")).collect()
    per_src_toks = agg.grouped_sketch(
        tokens, "source", agg.sketch_spec(HyperLogLog, "tokens", "tokens")).collect()
    from presto_bloomfilter_spark.functions.serialization import sketch_from_bytes

    hll_out = {}
    for r in per_src_docs:
        store.put(f"{args.job_id}.hll_docs.{r[0]}", sketch_from_bytes(r.sketch))
        hll_out[r[0]] = {"distinct_docs": round(sketch_from_bytes(r.sketch).estimate())}
    for r in per_src_toks:
        hll_out[r[0]]["distinct_tokens"] = round(sketch_from_bytes(r.sketch).estimate())
    metrics["hll_by_source"] = {"sec": round(time.time() - t0, 3), "estimates": hll_out}

    # 4. n_tok quantiles: global + per source KLL
    t0 = time.time()
    kll = agg.aggregate_sketch(tokens, agg.sketch_spec(KLLSketch, "n_tok", "floats"),
                               target_partials=args.cpus)
    store.put(f"{args.job_id}.kll", kll)
    qs = kll.quantile([0.5, 0.9, 0.99])
    metrics["kll_ntok"] = {
        "sec": round(time.time() - t0, 3),
        "p50": float(qs[0]), "p90": float(qs[1]), "p99": float(qs[2]),
        "rank_error": kll.rank_error,
    }

    # 5. fused family (bloom+CMS+HLL in one pyarrow scan) + t-digest
    from presto_bloomfilter_spark.sources.corpus import ensure_tokens_parquet

    t0 = time.time()
    fam = agg.aggregate_sketch_from_parquet(
        spark, ensure_tokens_parquet(args.sf_dir),
        agg.token_family_over_tokens("tokens", bloom_n=args.bloom_n, bloom_p=args.fpp),
        n_tasks=args.cpus,
    )
    store.put(f"{args.job_id}.family", fam)
    dt = time.time() - t0
    metrics["token_family_fused"] = {
        "sec": round(dt, 3), "tokens_per_sec": round(n_tokens / dt),
        "hll_distinct_tokens": round(fam.parts[2].estimate()),
        "bloom_fill": round(fam.parts[0].fill_ratio, 5),
    }
    t0 = time.time()
    td = agg.aggregate_sketch(tokens, agg.sketch_spec(TDigest, "n_tok", "floats"), target_partials=args.cpus)
    store.put(f"{args.job_id}.tdigest", td)
    metrics["tdigest_ntok"] = {
        "sec": round(time.time() - t0, 3),
        "p50": td.quantile(0.5), "p99": td.quantile(0.99),
    }

    # 6. round-5 families: DDSketch relative-error quantiles (lossless
    # merge), Count-Sketch F2 (self-join size of the doc_id stream)
    t0 = time.time()
    dd = agg.aggregate_sketch(tokens, agg.sketch_spec(DDSketch, "n_tok", "floats"),
                              target_partials=args.cpus)
    store.put(f"{args.job_id}.ddsketch", dd)
    metrics["ddsketch_ntok"] = {
        "sec": round(time.time() - t0, 3),
        "p50": dd.quantile(0.5), "p99": dd.quantile(0.99),
        "alpha": dd.alpha,
    }
    t0 = time.time()
    csk = agg.aggregate_sketch(tokens.select("doc_id"),
                               agg.sketch_spec(CountSketch, "doc_id", "strings"),
                               target_partials=args.cpus)
    store.put(f"{args.job_id}.countsketch", csk)
    metrics["countsketch_docid_f2"] = {
        "sec": round(time.time() - t0, 3), "f2_est": csk.f2(), "n": csk.n,
    }

    metrics["total_sec"] = round(time.time() - t_all, 3)
    metrics["store_keys"] = len(store.keys())
    spark.stop()
    print(json.dumps(metrics))


if __name__ == "__main__":
    main()
