"""The workloads: seeded inputs, one pass of each fixed job mix,
the exact checks on every job's answer, and the traced in-driver replay.

Each workload drives the library only through its public functions.
A job is one call a user makes and waits for; ``run`` is timed and
``check`` (untimed) compares its answer with an exact oracle computed
here from the same seeded inputs.
"""

from __future__ import annotations

import dataclasses
import functools
import hashlib
import os
import time
from collections.abc import Callable

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import oracle
from harness import Tracer, cores

from presto_bloomfilter_spark import compat
from presto_bloomfilter_spark.functions import serialization as ser
from presto_bloomfilter_spark.functions.bloom import BloomFilter
from presto_bloomfilter_spark.operators import aggregate as agg
from presto_bloomfilter_spark.sources.corpus import VOCAB_SIZE, generate_tokens_table
from presto_bloomfilter_spark.store import SketchStore

# corpus and job sizes; "tiny" keeps the benchmark's own tests fast
SIZES = {
    "full": {"docs": 30_000, "sparse_shards": 8, "dense_filters": 2,
             "dense_keys": 1_000_000, "api_slices": 4, "sql_rows": 1_000},
    "tiny": {"docs": 2_000, "sparse_shards": 2, "dense_filters": 1,
             "dense_keys": 20_000, "api_slices": 2, "sql_rows": 100},
}
HELD_OUT = 20_000  # non-member probes for the observed-FPR checks
ARROW_BATCH = 4096  # the Arrow batch size the library pins for its builds


@dataclasses.dataclass
class Job:
    kind: str
    run: Callable[[], object]
    check: Callable[[object], list]
    units: dict  # work done, for the throughput figures


def raw_payload_bytes(blob: bytes) -> int:
    """Uncompressed payload bytes of a blob; a multi-sketch counts the
    payloads of its parts."""
    kind, _, payload = ser.decode(blob)
    if kind == ser.KIND_MULTI:
        return sum(raw_payload_bytes(p.to_bytes()) for p in ser.sketch_from_bytes(blob).parts)
    return len(payload)


def _arrow_batches(table: pa.Table, parts: int) -> list[list[pa.RecordBatch]]:
    """Split a table into ``parts`` contiguous partitions of Arrow batches,
    the shape a coalesced scan hands each task."""
    n = table.num_rows
    bounds = np.linspace(0, n, parts + 1).astype(int)
    return [table.slice(a, b - a).to_batches(max_chunksize=ARROW_BATCH)
            for a, b in zip(bounds[:-1], bounds[1:])]


class Workload:
    name = ""
    mix: dict[str, int] = {}  # job kind → jobs of that kind in one canonical pass

    def __init__(self, spark, seed: int, workdir: str, size: str = "full"):
        self.spark = spark
        self.seed = seed
        self.workdir = workdir
        self.size = SIZES[size]
        self.inputs: dict = {}
        self.blobs: list[bytes] = []  # result blobs whose stored size is reported

    def corpus(self, n_docs: int) -> tuple[pa.Table, str]:
        """Seeded corpus, written as parquet inside the work directory."""
        t0 = time.perf_counter()
        table = generate_tokens_table(n_docs, self.seed)
        path = os.path.join(self.workdir, f"{self.name}-corpus.parquet")
        pq.write_table(table, path, row_group_size=1024)
        tokens = len(table.column("tokens").combine_chunks().flatten())
        self.inputs.update(rows=table.num_rows, tokens=tokens,
                           bytes=os.path.getsize(path),
                           generate_s=time.perf_counter() - t0)
        return table, path

    def prepare(self) -> None:
        """Seeded generation, then the workload's own preparation."""
        self.prepare_from(*self.corpus(self.size["docs"]))

    def prepare_from(self, table: pa.Table, path: str) -> None:
        raise NotImplementedError

    def setup_checks(self) -> list:
        return []

    def pass_jobs(self, i: int) -> list[Job]:
        raise NotImplementedError

    def warmup_jobs(self) -> list[Job]:
        """One job of every kind, in a fixed order."""
        return list({j.kind: j for j in self.pass_jobs(0)}.values())

    def replay(self, tr: Tracer) -> None:
        raise NotImplementedError

    def throughputs(self, records: list[dict]) -> dict:
        raise NotImplementedError

    def stored_bytes_ratio(self) -> float:
        return sum(map(len, self.blobs)) / sum(map(raw_payload_bytes, self.blobs))

    def input_sizes(self) -> dict:
        """Input sizes recorded next to every metric (untimed)."""
        return {**self.inputs, "distinct_ids": self.distinct_ids(),
                "blob_bytes": sum(map(len, self.blobs)),
                "blob_raw_bytes": sum(map(raw_payload_bytes, self.blobs))}

    def distinct_ids(self) -> int:
        return self.inputs["rows"]  # doc_ids are distinct


def _rate(records: list[dict], kinds: tuple[str, ...], unit: str, scale: float = 1.0) -> float:
    rs = [r for r in records if r["kind"] in kinds and r["ok"]]
    wall = sum(r["wall"] for r in rs)
    return sum(r["units"][unit] for r in rs) / scale / wall if wall else 0.0


# ---- token_build ---------------------------------------------------------------


class TokenBuild(Workload):
    """North-star sketch builds over the token corpus, each a full pass."""

    name = "token_build"
    mix = {"fused_parquet": 1, "fused_dataframe": 1, "kll_n_tok": 1, "grouped_hll": 1}

    def prepare_from(self, table, path) -> None:
        self.table, self.path = table, path
        self.df = self.spark.read.parquet(self.path)
        self.blobs, self._kept = [], set()

    @functools.cached_property
    def exact(self) -> dict:
        flat = self.table.column("tokens").combine_chunks().flatten().to_numpy()
        counts = np.bincount(flat, minlength=VOCAB_SIZE)
        uniq = np.flatnonzero(counts)
        rng = np.random.default_rng(self.seed)
        queries = np.unique(np.concatenate([
            np.argsort(counts)[-100:], rng.choice(uniq, size=min(100, len(uniq)), replace=False)]))
        src = self.table.column("source").to_pandas()
        return {"uniq": uniq, "counts": counts, "total": int(flat.size), "queries": queries,
                "n_tok": self.table.column("n_tok").to_numpy(),
                "per_source": src.value_counts().to_dict()}

    def distinct_ids(self) -> int:
        return len(self.exact["uniq"])  # distinct token ids

    def _check_family(self, sk) -> list:
        ex = self.exact
        bloom, cms, hll = sk.parts
        fold = BloomFilter(bloom.expected_insertions, bloom.fpp).add_ints(ex["uniq"])
        held_out = np.arange(VOCAB_SIZE, VOCAB_SIZE + HELD_OUT)
        out = oracle.check_no_false_negatives(bloom.might_contain_ints(ex["uniq"]), "bloom")
        out += oracle.check_equal_words(bloom.words, fold.words, "bloom")
        out += oracle.check_fpr(bloom.might_contain_ints(held_out), bloom.fpp, "bloom")
        q = ex["queries"]
        out += oracle.check_cms(cms.estimate_ints(q), ex["counts"][q], cms.eps, cms.delta,
                                ex["total"], "cms")
        if cms.total != ex["total"]:
            out.append(f"cms: total {cms.total} != {ex['total']} tokens")
        out += oracle.check_relative(hll.estimate(), len(ex["uniq"]), oracle.hll_bound(hll.m), "hll")
        return out

    def _check_kll(self, kll) -> list:
        ex = self.exact
        qs = [0.01, 0.05, 0.1, 0.25, 0.5, 0.75, 0.9, 0.95, 0.99]
        out = oracle.check_quantiles(ex["n_tok"], qs, [float(kll.quantile(q)) for q in qs],
                                     kll.rank_error, "kll")
        if kll.n != len(ex["n_tok"]):
            out.append(f"kll: n {kll.n} != {len(ex['n_tok'])} rows")
        return out

    def _check_grouped(self, blobs: dict) -> list:
        exact = self.exact["per_source"]
        if set(blobs) != set(exact):
            return [f"grouped_hll: groups {sorted(blobs)} != {sorted(exact)}"]
        out = []
        for src, blob in blobs.items():
            hll = ser.sketch_from_bytes(blob)
            out += oracle.check_relative(hll.estimate(), exact[src], oracle.hll_bound(hll.m),
                                         f"grouped_hll[{src}]")
        return out

    def _keep(self, kind: str, check):
        """Check an answer; keep the first answer of each kind for the
        stored-bytes figure."""
        def run(res):
            if kind not in self._kept:
                self._kept.add(kind)
                self.blobs.extend(list(res.values()) if isinstance(res, dict) else [res.to_bytes()])
            return check(res)
        return run

    def pass_jobs(self, i: int) -> list[Job]:
        spark, df, path = self.spark, self.df, self.path
        tokens, rows = self.inputs["tokens"], self.inputs["rows"]
        return [
            Job("fused_parquet",
                lambda: agg.aggregate_sketch_from_parquet(spark, path, agg.token_family_over_tokens("tokens")),
                self._keep("fused_parquet", self._check_family), {"tokens": tokens}),
            Job("fused_dataframe",
                lambda: agg.aggregate_sketch(df, agg.token_family_over_tokens("tokens")),
                self._check_family, {"tokens": tokens}),
            Job("kll_n_tok", lambda: agg.aggregate_sketch(df, agg.kll_over_column("n_tok")),
                self._keep("kll_n_tok", self._check_kll), {"rows": rows}),
            Job("grouped_hll",
                lambda: {r[0]: bytes(r[1]) for r in
                         agg.grouped_sketch(df, "source", agg.hll_over_strings("doc_id")).collect()},
                self._keep("grouped_hll", self._check_grouped), {"rows": rows}),
        ]

    def throughputs(self, records):
        return {"tokens_per_s": (_rate(records, ("fused_parquet", "fused_dataframe"), "tokens"), "tokens/s")}

    # -- traced replay: each task's partial build, then the driver merge --

    def _build(self, tr: Tracer, kind: str, spec, partitions, driver_merge=True):
        blobs = []
        with tr.span(f"replay.executor.{kind}"):
            for batches in partitions:
                sk = spec.factory()
                for rb in batches:
                    with tr.span("aggregate.update"):
                        spec.update(sk, rb)
                blobs.append(sk.to_bytes())
        tr.add("aggregate.partials", len(blobs))
        tr.add("aggregate.merge_levels", 1)  # partials <= fan-in: the driver merges once
        if driver_merge:
            with tr.span(f"replay.driver.{kind}"), tr.span("aggregate.driver_merge"):
                parts = [ser.sketch_from_bytes(b) for b in blobs]
                out = parts[0]
                for p in parts[1:]:
                    out = out.merge(p)
        return blobs

    def replay(self, tr: Tracer) -> None:
        n = cores()
        pf = pq.ParquetFile(self.path)
        n_rg = pf.metadata.num_row_groups
        # fused parquet path: each task reads its strided row groups itself
        shards = []
        with tr.span("replay.executor.fused_parquet"), tr.span("scan.read"):
            for sid in range(n):
                shards.append([rb for rg in range(sid, n_rg, n)
                               for rb in pf.read_row_group(rg, columns=["tokens"]).to_batches()])
        self._build(tr, "fused_parquet", agg.token_family_over_tokens("tokens"), shards)
        with tr.span("replay.executor.fused_dataframe"), tr.span("scan.read"):
            table = pq.read_table(self.path, columns=["doc_id", "tokens", "n_tok", "source"])
        self._build(tr, "fused_dataframe", agg.token_family_over_tokens("tokens"),
                    _arrow_batches(table.select(["tokens"]), n))
        self._build(tr, "kll_n_tok", agg.kll_over_column("n_tok"),
                    _arrow_batches(table.select(["n_tok"]), n))
        # grouped: per-(task, source) partials, then one merge per source
        spec = agg.hll_over_strings("doc_id")
        partials: dict[str, list[bytes]] = {}
        with tr.span("replay.executor.grouped_hll"):
            for batches in _arrow_batches(table.select(["source", "doc_id"]), n):
                sketches = {}
                for rb in batches:
                    keys = rb.column(0).to_numpy(zero_copy_only=False)
                    for k in np.unique(keys):
                        sk = sketches.setdefault(k, spec.factory())
                        with tr.span("aggregate.update"):
                            spec.update(sk, rb.filter(pa.array(keys == k)))
                for k, sk in sketches.items():
                    partials.setdefault(k, []).append(sk.to_bytes())
            for k, blobs in partials.items():
                out = ser.sketch_from_bytes(blobs[0])
                for b in blobs[1:]:
                    out = out.merge(ser.sketch_from_bytes(b))
                out.to_bytes()
        tr.add("aggregate.partials", sum(map(len, partials.values())))
        tr.add("aggregate.merge_levels", 1)


# ---- merge_persist -----------------------------------------------------------------


class MergePersist(Workload):
    """Persist every shard filter, merge them two ways, read the result back
    (one half of ``PersistProbe``; runs alone in the tests)."""

    name = "merge_persist"
    MERGES = ("merge_store", "merge_dense", "merge_table")

    @property
    def mix(self):
        return {"put_sparse": self.size["sparse_shards"], "put_dense": self.size["dense_filters"],
                "readback": 1, **{m: 1 for m in self.MERGES}}

    def prepare_from(self, table, path) -> None:
        rng = np.random.default_rng(self.seed)
        self.doc_ids = table.column("doc_id").to_pandas()
        shard = rng.integers(self.size["sparse_shards"], size=len(self.doc_ids))
        # sparse: the reference's default geometry (n=1e7, p=0.01) over one
        # doc_id shard each; dense: n=1e6 filled to design capacity
        self.sparse = [BloomFilter().add_strings(self.doc_ids[shard == i])
                       for i in range(self.size["sparse_shards"])]
        dn = self.size["dense_keys"]
        self.dense_keys = [rng.integers(0, 1 << 62, size=dn) for _ in range(self.size["dense_filters"])]
        self.dense = [BloomFilter(dn, 0.01).add_ints(k) for k in self.dense_keys]
        self.filters = {**{f"sparse-{i}": f for i, f in enumerate(self.sparse)},
                        **{f"dense-{i}": f for i, f in enumerate(self.dense)}}
        self.store = SketchStore(os.path.join(self.workdir, "store"))
        self.expected = {k: f.to_bytes() for k, f in self.filters.items()}
        self.blobs = list(self.expected.values())
        # the sketch table that merge_sketch_column reads
        self.table_path = os.path.join(self.workdir, "sketch_table.parquet")
        sparse_blobs = [self.expected[f"sparse-{i}"] for i in range(len(self.sparse))]
        pq.write_table(pa.table({"key": [f"sparse-{i}" for i in range(len(self.sparse))],
                                 "sketch": pa.array(sparse_blobs, pa.binary())}), self.table_path)
        self.payload_bytes = {k: f.words.nbytes for k, f in self.filters.items()}

    @functools.cached_property
    def folds(self) -> dict:
        """Driver folds of the shard bitsets: the exact merged answers."""
        return {"sparse": np.bitwise_or.reduce([f.words for f in self.sparse]),
                "dense": np.bitwise_or.reduce([f.words for f in self.dense])}

    def setup_checks(self) -> list:
        out = []
        for i, f in enumerate(self.sparse):
            out += oracle.check_fpr(f.might_contain_strings([f"absent-{j}" for j in range(HELD_OUT)]),
                                    f.fpp, f"sparse-{i}")
        for i, f in enumerate(self.dense):
            held_out = np.arange(-HELD_OUT, 0)  # rng keys are all >= 0
            out += oracle.check_fpr(f.might_contain_ints(held_out), f.fpp, f"dense-{i}")
        return out

    def _check_put(self, key: str):
        f = self.filters[key]

        def check(ok) -> list:
            if ok is not True:
                return [f"{key}: put returned {ok!r}"]
            stored = self.store.get_bytes(key)
            return oracle.check_blob_roundtrip(stored, self.expected[key], ser.read_hash(stored),
                                               f.words.tobytes(), key)
        return check

    def _check_merged(self, which: str):
        def check(bf) -> list:
            out = oracle.check_equal_words(bf.words, self.folds[which], f"merged {which}")
            if which == "sparse":
                out += oracle.check_no_false_negatives(bf.might_contain_strings(self.doc_ids),
                                                       "merged sparse")
            else:
                for i, keys in enumerate(self.dense_keys):
                    out += oracle.check_no_false_negatives(bf.might_contain_ints(keys[:HELD_OUT]),
                                                           f"merged dense-{i}")
            return out
        return check

    def _merge_store(self):
        merged = self.store.load_merged_distributed(self.spark, [f"sparse-{i}" for i in range(len(self.sparse))])
        self.store.put("merged", merged)
        return merged

    def pass_jobs(self, i: int) -> list[Job]:
        sparse_keys = [f"sparse-{j}" for j in range(len(self.sparse))]
        dense_keys = [f"dense-{j}" for j in range(len(self.dense))]
        jobs = [Job("put_sparse" if k.startswith("sparse") else "put_dense",
                    functools.partial(self.store.put, k, self.filters[k]), self._check_put(k),
                    {"bytes": self.payload_bytes[k]})
                for k in sparse_keys + dense_keys]
        merges = {
            "merge_store": Job("merge_store", self._merge_store, self._check_merged("sparse"),
                               {"bytes": sum(self.payload_bytes[k] for k in sparse_keys)}),
            "merge_dense": Job("merge_dense",
                               lambda: self.store.load_merged_distributed(self.spark, dense_keys),
                               self._check_merged("dense"),
                               {"bytes": sum(self.payload_bytes[k] for k in dense_keys)}),
            "merge_table": Job("merge_table",
                               lambda: agg.merge_sketch_column(self.spark.read.parquet(self.table_path)),
                               self._check_merged("sparse"),
                               {"bytes": sum(self.payload_bytes[k] for k in sparse_keys)}),
        }
        # one merge per pass, in rotation: merges are few and slow, so the
        # timing tail stays among the persists whatever the pass count
        jobs.append(merges[self.MERGES[i % len(self.MERGES)]])
        jobs.append(Job("readback", lambda: self.store.get("merged"), self._check_merged("sparse"),
                        {"bytes": self.payload_bytes["sparse-0"]}))
        return jobs

    def warmup_jobs(self) -> list[Job]:
        """Every persist, then every merge kind, then the read-back (the
        merges read every shard; merge_store writes 'merged')."""
        jobs = [j for j in self.pass_jobs(0) if j.kind.startswith("put")]
        jobs += [j for i in range(len(self.MERGES)) for j in self.pass_jobs(i)
                 if j.kind == self.MERGES[i]]
        return jobs + [j for j in self.pass_jobs(0) if j.kind == "readback"]

    def throughputs(self, records):
        return {"persist_mb_per_s": (_rate(records, ("put_sparse", "put_dense"), "bytes", 1e6), "MB/s"),
                "merge_mb_per_s": (_rate(records, self.MERGES, "bytes", 1e6), "MB/s")}

    def replay(self, tr: Tracer) -> None:
        root = os.path.join(self.workdir, "replay-store")
        store = SketchStore(root)
        with tr.span("replay.driver.put"):
            for k, f in self.filters.items():
                store.put(k, f)
        sparse_keys = [f"sparse-{j}" for j in range(len(self.sparse))]
        dense_keys = [f"dense-{j}" for j in range(len(self.dense))]
        # load_merged_distributed: one task per fan-in keys loads and merges,
        # then the driver decodes the partial
        for kind, keys in (("merge_store", sparse_keys), ("merge_dense", dense_keys)):
            with tr.span(f"replay.executor.{kind}"):
                out = ser.sketch_from_bytes(store.get_bytes(keys[0]))
                for k in keys[1:]:
                    out = out.merge(ser.sketch_from_bytes(store.get_bytes(k)))
                blob = out.to_bytes()
            with tr.span(f"replay.driver.{kind}"), tr.span("aggregate.driver_merge"):
                merged = ser.sketch_from_bytes(blob)
            tr.add("aggregate.partials", 1)
            tr.add("aggregate.merge_levels", 1)
            if kind == "merge_store":
                with tr.span("replay.driver.merge_store"):
                    store.put("merged", merged)
        # merge_sketch_column: coalesced partitions each merge their rows
        table = pq.read_table(self.table_path)
        blobs = []
        with tr.span("replay.executor.merge_table"):
            for batches in _arrow_batches(table.select(["sketch"]), cores()):
                sk = None
                for rb in batches:
                    for b in rb.column(0).to_pylist():
                        o = ser.sketch_from_bytes(b)
                        sk = o if sk is None else sk.merge(o)
                if sk is not None:
                    blobs.append(sk.to_bytes())
        with tr.span("replay.driver.merge_table"), tr.span("aggregate.driver_merge"):
            parts = [ser.sketch_from_bytes(b) for b in blobs]
            out = parts[0]
            for p in parts[1:]:
                out = out.merge(p)
        tr.add("aggregate.partials", len(blobs))
        tr.add("aggregate.merge_levels", 1)
        with tr.span("replay.driver.readback"):
            store.get("merged")


# ---- probe ---------------------------------------------------------------------


class Probe(Workload):
    """Membership probes of every corpus row against one 12 MB filter,
    through the Python API and through SQL text (the other half of
    ``PersistProbe``)."""

    name = "probe"
    VIEW = "bench_bf"
    SLICE = "bench_sql_slice"

    @property
    def mix(self):
        return {"api_probe": self.size["api_slices"], "sql_probe": 1}

    def prepare_from(self, table, path) -> None:
        self.path = path
        self.doc_ids = table.column("doc_id").to_pandas()
        rng = np.random.default_rng([self.seed, 1])
        self.is_member = rng.random(len(self.doc_ids)) < 0.10
        # the SQL bloom_filter aggregation defaults: n=1e7, p=0.01
        self.bf = BloomFilter().add_strings(self.doc_ids[self.is_member])
        self.blobs = [self.bf.to_bytes()]
        compat.register_sql_functions(self.spark)
        compat.publish_sketch_view(self.spark, self.bf, self.VIEW)
        df = self.spark.read.parquet(self.path).select("doc_id")
        n = len(self.doc_ids)
        bounds = np.linspace(0, n, self.size["api_slices"] + 1).astype(int)
        self.slices = [(df.where(df.doc_id.between(self.doc_ids[a], self.doc_ids[b - 1])), a, b)
                       for a, b in zip(bounds[:-1], bounds[1:])]
        self.sql_rows = min(self.size["sql_rows"], n)
        df.where(df.doc_id <= self.doc_ids[self.sql_rows - 1]).createOrReplaceTempView(self.SLICE)

    @functools.cached_property
    def expected_hits(self) -> np.ndarray:
        """Exact members plus the filter's false positives, row by row."""
        return self.is_member | self.bf.might_contain_strings(self.doc_ids)

    def setup_checks(self) -> list:
        hits = self.bf.might_contain_strings(self.doc_ids)
        return (oracle.check_no_false_negatives(hits[self.is_member], "probe filter")
                + oracle.check_fpr(hits[~self.is_member], self.bf.fpp, "probe filter"))

    def _check_rows(self, a: int, b: int, what: str):
        def check(rows) -> list:
            got = {r[0] for r in rows}
            ids = self.doc_ids[a:b]
            members = set(ids[self.is_member[a:b]])
            out = oracle.check_no_false_negatives(np.array([m in got for m in members]), what)
            return out + oracle.check_same_rows(got, set(ids[self.expected_hits[a:b]]), what)
        return check

    def pass_jobs(self, i: int) -> list[Job]:
        spark, bf = self.spark, self.bf
        jobs = [Job("api_probe",
                    functools.partial(lambda d: d.filter(compat.bloom_filter_contains(spark, bf, "doc_id"))
                                      .collect(), d),
                    self._check_rows(a, b, f"api[{a}:{b}]"), {"rows": b - a})
                for d, a, b in self.slices]
        jobs.append(Job("sql_probe",
                        lambda: spark.sql(f"SELECT doc_id FROM {self.SLICE} WHERE "
                                          f"bloom_filter_contains((SELECT bf FROM {self.VIEW}), doc_id)").collect(),
                        self._check_rows(0, self.sql_rows, "sql"), {"rows": self.sql_rows}))
        return jobs

    def throughputs(self, records):
        return {"probe_rows_per_s": (_rate(records, ("api_probe",), "rows"), "rows/s"),
                "sql_probe_rows_per_s": (_rate(records, ("sql_probe",), "rows"), "rows/s")}

    def _sql_udf(self):
        """The Python function the SQL surface runs for bloom_filter_contains,
        captured from the public registration call."""
        from pyspark.sql.udf import UDFRegistration

        captured = {}
        orig = UDFRegistration.register

        def capture(reg, name, f, *a, **kw):
            captured[name] = f
            return orig(reg, name, f, *a, **kw)

        UDFRegistration.register = capture
        try:
            compat.register_sql_functions(self.spark)
        finally:
            UDFRegistration.register = orig
        return captured["bloom_filter_contains"].func

    def replay(self, tr: Tracer) -> None:
        n = cores()
        udf = self._sql_udf()
        ids = pa.array(self.doc_ids, pa.string())
        # API: the filter is encoded once for the broadcast; each worker
        # loads it once (executor-local cache) and probes Arrow batches
        with tr.span("replay.driver.api_probe"):
            blob = self.bf.to_bytes()
        with tr.span("replay.executor.api_probe"):
            with tr.span("probe.sketch_load"):
                hashlib.sha256(blob).digest()
                sk = ser.sketch_from_bytes(blob)
            hits = [sk.might_contain_strings(rb.column(0).to_pandas())
                    for batches in _arrow_batches(pa.table({"doc_id": ids}), n) for rb in batches]
        hits = np.concatenate(hits)
        tr.add("probe.rows", len(hits))
        tr.add("probe.hits", int(hits.sum()))
        tr.add("probe.nonmember_rows", int((~self.is_member).sum()))
        tr.add("probe.nonmember_hits", int((hits & ~self.is_member).sum()))
        # SQL text: the scalar subquery's blob arrives in every row
        stored = self.blobs[0]
        sl = pa.table({"doc_id": ids[: self.sql_rows]})
        with tr.span("replay.executor.sql_probe"):
            for batches in _arrow_batches(sl, 1):
                for rb in batches:
                    with tr.span("compat.transport"):
                        blobs = pa.array([stored] * rb.num_rows, pa.binary()).to_pandas()
                        els = rb.column(0).to_pandas()
                    with tr.span("compat.sql_probe"):
                        udf(blobs, els)


class PersistProbe(Workload):
    """The serving side of one corpus: persist and merge shard filters
    (``MergePersist``) and probe every row against a 12 MB filter
    (``Probe``), in one closed loop.

    Each pass persists every filter, reads the merged filter back and
    probes every row through the API; one slow job per pass rotates
    through the three merges and the SQL-text probe, so the slow jobs
    stay fewer than ten per run and ``job_s_tail`` stays within the API
    probes whatever the pass count."""

    name = "persist_probe"
    SLOW = (*MergePersist.MERGES, "sql_probe")

    def __init__(self, spark, seed, workdir, size="full"):
        super().__init__(spark, seed, workdir, size)
        self.persist = MergePersist(spark, seed, workdir, size)
        self.probe = Probe(spark, seed, workdir, size)

    @property
    def mix(self):
        return {**self.persist.mix, **self.probe.mix}

    def prepare_from(self, table, path) -> None:
        self.persist.prepare_from(table, path)
        self.probe.prepare_from(table, path)
        self.blobs = self.persist.blobs + self.probe.blobs

    def setup_checks(self) -> list:
        return self.persist.setup_checks() + self.probe.setup_checks()

    def warmup_jobs(self) -> list[Job]:
        return self.persist.warmup_jobs() + Workload.warmup_jobs(self.probe)

    def pass_jobs(self, i: int) -> list[Job]:
        slow = self.SLOW[i % len(self.SLOW)]
        merges = MergePersist.MERGES
        jobs = self.persist.pass_jobs(merges.index(slow) if slow in merges else 0)
        return [j for j in jobs + self.probe.pass_jobs(i)
                if j.kind not in self.SLOW or j.kind == slow]

    def throughputs(self, records):
        return {**self.persist.throughputs(records), **self.probe.throughputs(records)}

    def replay(self, tr: Tracer) -> None:
        self.persist.replay(tr)
        self.probe.replay(tr)


WORKLOADS = {w.name: w for w in (TokenBuild, PersistProbe)}
