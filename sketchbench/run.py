"""Benchmark of record for presto_bloomfilter_spark.

    python3 sketchbench/run.py --workload token_build --seed 1 --seconds 20 --trace 0

Runs one workload as a closed loop with one client: a fixed, seeded
sequence of jobs issued back to back at local[N] (N = min(3, cores)),
until the jobs have run for ``--seconds``.  Every answer is checked
against an exact oracle.  Prints one short line per metric (name, value,
unit) and, last, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics with the Spark UI off.
``--trace 1`` is a separate run with the UI bound to 127.0.0.1: every
second pass is tagged with a job group and its stage and SQL metrics are
read from the REST API, then one canonical pass is replayed in the driver
with spans around every call into a library layer; it reports the
per-layer metrics.  The full record (samples, input sizes, spans, per-job
REST metrics) goes to ``sketchbench/out/``.

``setup_s`` is the Spark session start, plus the warm-up (a cold pass of
every job kind, then WARM_S of seeded passes), plus the median of
SETUP_REPS repetitions of the seeded generation and workload preparation.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import sys
import threading
import time
import traceback

import harness

SETUP_REPS = 3
WARM_S = 5.0  # warm passes after the cold one, before measuring
DEADLINE_S = 170.0  # the run must end within 180 s


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full",
                   help="input sizes; 'tiny' is for the benchmark's own tests")
    return p.parse_args(argv)


def _watchdog(workdir: str) -> None:
    def fire():
        sys.stderr.write(f"sketchbench: no result after {DEADLINE_S:.0f} s, aborting\n")
        sys.stderr.flush()
        harness.kill_descendants()
        shutil.rmtree(workdir, ignore_errors=True)
        os._exit(3)

    t = threading.Timer(DEADLINE_S, fire)
    t.daemon = True
    t.start()


def layer_patches(tr):
    """Spans (and counts) around the calls between the library's layers,
    installed in the driver process for the traced replay only."""
    from presto_bloomfilter_spark.functions import bloom, cms, hll, serialization as ser
    from presto_bloomfilter_spark.functions.kll import KLLSketch
    from presto_bloomfilter_spark.functions.multi import MultiSketch
    from presto_bloomfilter_spark.operators.aggregate import TokenDedupAccumulator
    from presto_bloomfilter_spark.store import SketchStore

    def keys(name):
        return lambda a, kw, out: {name: len(a[1])}

    def encoded(a, kw, out):
        return {"serialization.encode_calls": 1, "serialization.encode_in_bytes": len(a[2]),
                "serialization.encode_out_bytes": len(out),
                "serialization.encode_compressed": out[7] & 1}

    def dedup_flush(a, kw, out):
        return {"aggregate.dedup_out": tr.counts.pop("_pending_unique", 0)}

    tr.patch(ser, "encode", "serialization.encode", encoded)
    tr.patch(ser, "decode", "serialization.decode",
             lambda a, kw, out: {"serialization.decode_bytes": len(a[0])})
    for kls, kind in ((bloom.BloomFilter, "bloom"), (cms.CountMinSketch, "cms"),
                      (hll.HyperLogLog, "hll")):
        tr.patch(kls, "add_ints", f"{kind}.add", keys(f"{kind}.add_keys"))
        tr.patch(kls, "add_strings", f"{kind}.add", keys(f"{kind}.add_keys"))
    tr.patch(cms.CountMinSketch, "merge", "cms.merge")
    tr.patch(hll.HyperLogLog, "merge", "hll.merge")
    tr.patch(KLLSketch, "add", "kll.add", keys("kll.add_keys"))
    tr.patch(KLLSketch, "merge", "kll.merge")
    tr.patch(MultiSketch, "merge", "multi.merge")
    tr.patch(bloom.BloomFilter, "merge", "bloom.merge",
             lambda a, kw, out: {"bloom.merge_bytes": a[1].words.nbytes})
    tr.patch(bloom.BloomFilter, "might_contain_strings", "bloom.probe", keys("bloom.probe_keys"))
    tr.patch(bloom.BloomFilter, "might_contain_ints", "bloom.probe", keys("bloom.probe_keys"))
    for mod in (bloom, cms, hll):
        tr.patch(mod, "hash_strings64", "hashing.strings")
        tr.patch(mod, "hash_ints64", "hashing.ints")

    def dedup_in(a, kw, out):
        acc = a[0]
        if acc.counts is not None:
            tr.counts["_pending_unique"] = float(len(acc.counts.nonzero()[0]))
        return {"aggregate.dedup_in": len(a[1])}

    tr.patch(TokenDedupAccumulator, "add_flat", "aggregate.dedup", dedup_in)
    tr.patch(TokenDedupAccumulator, "flush", "aggregate.flush", dedup_flush)
    tr.patch(SketchStore, "put", "store.put",
             lambda a, kw, out: {"store.bytes_written":
                                 os.path.getsize(os.path.join(a[0].root, a[1] + ".sketch"))})
    tr.patch(SketchStore, "get_bytes", "store.get",
             lambda a, kw, out: {"store.bytes_read": len(out)})


# ---- metric tables ---------------------------------------------------------------

END_TO_END = {  # name → unit
    "setup_s": "s", "job_s_p50": "s", "job_s_tail": "s", "jobs_per_s": "1/s",
    "peak_rss_mb": "MB", "stored_bytes_ratio": "ratio",
}
PER_LAYER = {
    "sources.generate_s": "s", "sources.rows": "count", "sources.tokens": "count",
    "sources.bytes": "bytes",
    "aggregate.dedup_in": "count", "aggregate.dedup_out": "count", "aggregate.dedup_ratio": "ratio",
    "aggregate.partials": "count", "aggregate.merge_levels": "count",
    "aggregate.driver_merge_s": "s", "functions.kernel_s": "s",
    "bloom.merge_s": "s", "hashing.strings_s": "s",
    "bloom.add_keys": "count", "cms.add_keys": "count", "hll.add_keys": "count",
    "kll.add_keys": "count", "bloom.merge_bytes": "bytes", "bloom.probe_keys": "count",
    "serialization.encode_s": "s", "serialization.encode_in_bytes": "bytes",
    "serialization.encode_out_bytes": "bytes", "serialization.compressed_share": "ratio",
    "serialization.decode_s": "s", "serialization.decode_bytes": "bytes",
    "probe.rows": "count", "probe.hits": "count", "probe.fpr_observed": "ratio",
    "probe.python_bytes_per_row": "bytes/row", "compat.python_bytes_per_row": "bytes/row",
    "store.bytes_written": "bytes", "store.bytes_read": "bytes",
    "spark.stages": "count", "spark.tasks": "count", "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s", "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes", "spark.spill_bytes": "bytes",
    "spark.result_bytes": "bytes", "spark.python_bytes_sent": "bytes",
    "spark.python_bytes_returned": "bytes", "spark.sched_overhead_s": "s",
    "trace.coverage": "ratio", "trace.overhead_s": "s",
}
# self time of these span names is sketch-kernel time (functions.kernel_s)
KERNEL_SPANS = ("bloom.", "cms.", "hll.", "kll.", "multi.", "hashing.")
# per-layer times some workloads never exercise: reported in the trace
# file and on stdout, not in the result object (a constant zero is no
# measurement)
LAYER_SELF_TIMES = {
    "aggregate.update_s": "aggregate.update",
    "bloom.add_s": "bloom.add", "cms.add_s": "cms.add", "hll.add_s": "hll.add",
    "kll.add_s": "kll.add", "bloom.probe_s": "bloom.probe", "hashing.ints_s": "hashing.ints",
    "probe.sketch_load_s": "probe.sketch_load", "compat.sql_probe_s": "compat.sql_probe",
    "compat.transport_s": "compat.transport", "store.put_s": "store.put",
    "store.get_s": "store.get", "scan.read_s": "scan.read",
}


def emit(name: str, value: float, unit: str, tag: str = "metric") -> None:
    print(f"{tag} {name} {value:.6g} {unit}")


# ---- the run -------------------------------------------------------------------------


def warm(wl, seed) -> None:
    """Seeded passes of the mix until WARM_S of job time has run: the
    JVM's JIT and the workers' caches settle over the first passes."""
    rng = random.Random(f"warm-{seed}")
    spent, i = 0.0, 0
    while spent < WARM_S:
        jobs = wl.pass_jobs(i)
        rng.shuffle(jobs)
        for job in jobs:
            t0 = time.perf_counter()
            job.run()
            spent += time.perf_counter() - t0
            if spent >= WARM_S:
                return
        i += 1


def run_jobs(spark, wl, seed, seconds, trace, rest, records, kinds_seen) -> None:
    """Closed loop, one client: seeded passes of the fixed mix until the
    jobs have run for ``seconds``.  In a traced run every second pass is
    tagged with job groups and its REST metrics are read after each job."""
    rng = random.Random(seed)
    sc = spark.sparkContext
    measured, i = 0.0, 0
    while measured < seconds:
        jobs = wl.pass_jobs(i)
        rng.shuffle(jobs)
        traced = trace and i % 2 == 1
        for job in jobs:
            group = f"job-{len(records)}-{job.kind}"
            if traced:
                sc.setJobGroup(group, group)
            t0 = time.perf_counter()
            try:
                res, err = job.run(), None
            except Exception:
                res, err = None, traceback.format_exc(limit=3)
            wall = time.perf_counter() - t0
            if traced:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            failures = [err] if err else job.check(res)
            rec = {"kind": job.kind, "wall": wall, "ok": err is None, "traced": traced,
                   "failures": failures, "units": job.units, "pass": i}
            if traced:
                rec["spark"] = rest.group_metrics(group, wall)
                kinds_seen.add(job.kind)
            records.append(rec)
            measured += wall
            if measured >= seconds:
                break
        i += 1


def layer_metrics(wl, tr, records, reps, warmup_s) -> dict:
    """Per-layer metrics for one canonical pass of the workload's mix."""
    self_t, incl = tr.times()
    c = tr.counts
    m = {
        "sources.generate_s": harness.median([r["generate_s"] for r in reps]),
        "sources.rows": wl.inputs["rows"], "sources.tokens": wl.inputs["tokens"],
        "sources.bytes": wl.inputs["bytes"],
        "functions.kernel_s": sum(v for k, v in self_t.items() if k.startswith(KERNEL_SPANS)),
        "serialization.encode_s": self_t.get("serialization.encode", 0.0),
        "serialization.decode_s": self_t.get("serialization.decode", 0.0),
        "bloom.merge_s": self_t.get("bloom.merge", 0.0),
        "hashing.strings_s": self_t.get("hashing.strings", 0.0),
        # inclusive: the driver's decode and merge of the partials
        "aggregate.driver_merge_s": incl.get("aggregate.driver_merge", 0.0),
    }
    for k in ("aggregate.dedup_in", "aggregate.dedup_out", "aggregate.partials",
              "aggregate.merge_levels", "bloom.add_keys", "cms.add_keys", "hll.add_keys",
              "kll.add_keys", "bloom.merge_bytes", "bloom.probe_keys",
              "serialization.encode_in_bytes", "serialization.encode_out_bytes",
              "serialization.decode_bytes", "store.bytes_written", "store.bytes_read"):
        m[k] = c.get(k, 0.0)
    m["aggregate.dedup_ratio"] = m["aggregate.dedup_out"] / m["aggregate.dedup_in"] \
        if m["aggregate.dedup_in"] else 0.0
    calls = c.get("serialization.encode_calls", 0.0)
    m["serialization.compressed_share"] = c.get("serialization.encode_compressed", 0.0) / calls \
        if calls else 0.0

    # Spark engine: mean per traced job of each kind, times the kind's
    # share of a canonical pass
    spark_keys = ("stages", "tasks", "executor_run_s", "executor_cpu_s", "jvm_gc_s",
                  "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "result_bytes",
                  "python_bytes_sent", "python_bytes_returned", "python_worker_start_s",
                  "python_worker_init_s", "sched_overhead_s")
    per_kind = {}
    for kind, mult in wl.mix.items():
        rs = [r["spark"] for r in records if r.get("spark") and r["kind"] == kind]
        per_kind[kind] = {k: sum(r[k] for r in rs) / len(rs) for k in spark_keys} if rs else None
        for k in spark_keys:
            m[f"spark.{k}"] = m.get(f"spark.{k}", 0.0) + mult * (per_kind[kind][k] if rs else 0.0)

    # probe surfaces: bytes shipped to Python workers per probed row
    def per_row(kind):
        pk = per_kind.get(kind)
        rows = next((r["units"]["rows"] for r in records if r["kind"] == kind), 0)
        return pk["python_bytes_sent"] / rows if pk and rows else 0.0

    m["probe.python_bytes_per_row"] = per_row("api_probe")
    m["compat.python_bytes_per_row"] = per_row("sql_probe")
    m["probe.rows"] = c.get("probe.rows", 0.0)
    m["probe.hits"] = c.get("probe.hits", 0.0)
    non = c.get("probe.nonmember_rows", 0.0)
    m["probe.fpr_observed"] = c.get("probe.nonmember_hits", 0.0) / non if non else 0.0

    # replayed executor-side layer time against Spark's executor run time
    exec_self = sum(tr.times("replay.executor.")[0].values())
    run_s = m["spark.executor_run_s"]
    m["trace.coverage"] = exec_self / run_s if run_s else 0.0
    untraced = [r["wall"] for r in records if not r["traced"] and r["ok"]]
    traced = [r["wall"] for r in records if r["traced"] and r["ok"]]
    m["trace.overhead_s"] = harness.median(traced) - harness.median(untraced) \
        if traced and untraced else 0.0
    extra = {k: self_t.get(span, 0.0) for k, span in LAYER_SELF_TIMES.items()}
    extra["spark.jvm_gc_s"] = m["spark.jvm_gc_s"]
    extra["setup.warmup_s"] = warmup_s
    extra["spark.python_worker_start_s"] = m["spark.python_worker_start_s"]
    extra["spark.python_worker_init_s"] = m["spark.python_worker_init_s"]
    return m, extra, {"self_s": self_t, "inclusive_s": incl, "counts": dict(c),
                      "spark_per_kind": per_kind}


def main(argv=None) -> int:
    args = parse_args(argv)
    workdir = os.path.join(harness.WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(workdir, exist_ok=True)
    harness.pin_environment(workdir)
    try:
        sys.path.insert(0, harness.REPO_ROOT)
        from workloads import WORKLOADS
    except ImportError as e:
        sys.stderr.write(f"sketchbench: cannot import the library: {e}\n")
        shutil.rmtree(workdir, ignore_errors=True)
        return 2
    if args.workload not in WORKLOADS:
        sys.stderr.write(f"sketchbench: unknown workload {args.workload!r}; "
                         f"choose from {sorted(WORKLOADS)}\n")
        shutil.rmtree(workdir, ignore_errors=True)
        return 2
    _watchdog(workdir)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = harness.start_session(workdir, ui=bool(args.trace))
        session_s = time.perf_counter() - t0
        wl = WORKLOADS[args.workload](spark, args.seed, workdir, args.size)

        reps = []
        for r in range(SETUP_REPS):
            t0 = time.perf_counter()
            wl.prepare()
            reps.append({"wall": time.perf_counter() - t0, **wl.inputs})
            if r == 0:
                # the first pass in a fresh session pays worker start-up
                # and JIT warm-up once, as a user's first query would
                t0 = time.perf_counter()
                for job in wl.warmup_jobs():
                    job.run()
                warm(wl, args.seed)
                warmup_s = time.perf_counter() - t0
        setup_s = session_s + warmup_s + harness.median([r["wall"] for r in reps])
        setup_failures = wl.setup_checks()

        rest = harness.SparkRest(spark.sparkContext) if args.trace else None
        records, kinds_seen = [], set()
        run_jobs(spark, wl, args.seed, args.seconds, args.trace, rest, records, kinds_seen)
        rss = harness.tree_peak_rss()

        result = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                  "trace": args.trace, "cores": harness.cores(),
                  "session_s": session_s, "warmup_s": warmup_s, "setup_reps": reps, "setup_failures": setup_failures,
                  "peak_rss_mb_by_pid": rss, "jobs": records, "conf": harness.session_conf(workdir, bool(args.trace))}
        walls = [r["wall"] for r in records if r["ok"]]
        failed = sum(1 for r in records if r["failures"]) + (1 if setup_failures else 0)
        attempted = len(records)
        tail, pct, n = harness.tail_stats(walls) if walls else (0.0, 0.0, 0)

        if args.trace:
            # every kind must have traced REST metrics, even in a short run
            for job in wl.warmup_jobs():
                if job.kind not in kinds_seen:
                    group = f"job-extra-{job.kind}"
                    spark.sparkContext.setJobGroup(group, group)
                    t0 = time.perf_counter()
                    res = job.run()
                    wall = time.perf_counter() - t0
                    spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
                    records.append({"kind": job.kind, "wall": wall, "ok": True, "traced": True,
                                    "extra": True, "failures": job.check(res),
                                    "units": job.units, "spark": rest.group_metrics(group, wall)})
            tr = harness.Tracer()
            layer_patches(tr)
            try:
                wl.replay(tr)
            finally:
                tr.restore()
            metrics, extra, detail = layer_metrics(wl, tr, records, reps, warmup_s)
            # a zero here means this workload's mix never calls that layer
            not_exercised = sorted(k for k, v in {**metrics, **extra}.items() if v == 0)
            result.update(per_layer=metrics, per_layer_extra=extra, trace_detail=detail,
                          not_exercised=not_exercised, spans=tr.spans)
            units = PER_LAYER
            for k, v in extra.items():
                emit(k, v, "s", "layer")
        else:
            metrics = {
                "setup_s": setup_s, "job_s_p50": harness.median(walls) if walls else 0.0,
                "job_s_tail": tail, "jobs_per_s": len(walls) / sum(walls) if walls else 0.0,
                "peak_rss_mb": sum(rss.values()), "stored_bytes_ratio": wl.stored_bytes_ratio(),
            }
            units = END_TO_END
            for k, (v, unit) in wl.throughputs(records).items():
                emit(k, v, unit, "info")
            emit("error_rate", failed / max(attempted, 1), "ratio", "info")
        result["inputs"] = wl.input_sizes()
        result["job_s_tail_percentile"] = pct
        result["job_samples"] = n
        result["metrics"] = metrics
        emit("job_s_tail_percentile", pct, "%", "info")
        emit("job_samples", n, "count", "info")
        for fail in setup_failures + [f for r in records for f in r["failures"]]:
            sys.stderr.write(f"check failed: {str(fail).strip()}\n")

        os.makedirs(harness.OUT_DIR, exist_ok=True)
        out = os.path.join(harness.OUT_DIR, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
        with open(out, "w") as f:
            json.dump(result, f, indent=1, default=float)
        for k, unit in units.items():
            emit(k, metrics[k], unit)
        line = {"correct": failed == 0, "attempted": attempted, "failed": failed,
                "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()}}
    finally:
        try:
            if spark is not None:
                harness.stop_session(spark)
        finally:
            shutil.rmtree(workdir, ignore_errors=True)
    print(json.dumps(line), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
