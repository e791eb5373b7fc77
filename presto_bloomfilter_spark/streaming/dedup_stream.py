"""Bounded-state streaming deduplication backed by the bloom filter.

Structured Streaming's own ``dropDuplicates`` keeps every seen key in
the state store — unbounded growth on an unbounded stream unless a
watermark can age keys out, and training-data dedup has no natural
event-time horizon.  The sketch-engine alternative: keep ONE bloom
filter (m bits, fixed) as the seen-set.  Per micro-batch:

1. digest each doc (md5 of content, JVM-side);
2. dedupe within the batch (first id per digest wins — deterministic);
3. probe the persisted filter: digests that probe TRUE are dropped as
   probably-seen; the rest are emitted and inserted into the filter;
4. write a tiny per-epoch marker (pruned after keep_markers epochs) —
   a re-delivered epoch is detected and skipped, and the per-epoch
   sink directory is written with overwrite, so redelivery is
   idempotent end to end.

Semantics: NO duplicate ever survives (bloom has no false negatives —
a seen digest always probes true); a bounded fraction of UNIQUE docs
(≤ fpp at capacity) is wrongly dropped.  That asymmetry is the right
trade for training pipelines: losing 0.1% of unique docs is cheap,
emitting dup clusters is not.

**Saturation is observable, never silent**: nothing in a stream bounds
inserts to ``expected_insertions``, and past capacity the filter's
false-positive rate climbs toward 1 — an ever-growing fraction of
genuinely NEW documents would be silently dropped.  Every batch
therefore checks the live filter's fill-derived FPR estimate against
the configured bound and applies ``on_capacity``:

- ``"warn"`` (default): ``warnings.warn`` once per offending epoch;
- ``"error"``: raise ``CapacityExceeded`` — the stream fails loudly;
- ``"roll"``: open a NEW generation filter; subsequent inserts go to
  the newest generation while probes check ALL generations (union of
  no-false-negative probes stays a no-false-negative probe).  State
  grows by one m-bit filter per roll — only when capacity was actually
  exceeded, and each roll is logged.

At 10^12-sequence scale one filter cannot hold the digest space at all:
:class:`ShardedStreamingBloomDedup` routes digests to S independent
per-shard filters (``operators/sharded.py`` family machinery — shard =
xxhash64(digest) mod S on both build and probe), so every store object,
probe task, and merge stays n/S-sized.  ``StreamingBloomDedup`` is the
S=1 case.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame, Window, functions as F

from presto_bloomfilter_spark.functions.bloom import BloomFilter
from presto_bloomfilter_spark.operators.probe import contains_udf
from presto_bloomfilter_spark.store import SketchStore


class CapacityExceeded(RuntimeError):
    """The streaming seen-filter passed its configured capacity and
    on_capacity='error' was requested."""


def _mark_epoch(store: SketchStore, job_id: str, epoch_id: int,
                keep_markers: int) -> None:
    """Write a TINY idempotency marker (a 1-capacity bloom, a few
    bytes) — only existence is ever checked, so persisting the full
    seen-filter per epoch would grow the store without bound for no
    benefit.  Markers older than ``keep_markers`` epochs are pruned;
    Spark's checkpoint never re-delivers epochs that far back."""
    prefix = f"{job_id}.seen.epoch"
    store.put(f"{prefix}{epoch_id}", BloomFilter(1, 0.5))
    stale = sorted(
        (int(k[len(prefix):]) for k in store.keys()
         if k.startswith(prefix) and k[len(prefix):].isdigit()),
    )[:-keep_markers]
    for e in stale:
        store.delete(f"{prefix}{e}")


def _epoch_marked(store: SketchStore, job_id: str, epoch_id: int) -> bool:
    return store.exists(f"{job_id}.seen.epoch{epoch_id}")


def _in_batch_first(batch_df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Digest + within-batch dedupe: first id per digest wins
    (deterministic regardless of partitioning)."""
    digested = batch_df.withColumn("__digest", F.md5(F.col(text_col)))
    w = Window.partitionBy("__digest").orderBy(F.col(id_col))
    return (
        digested.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


class StreamingBloomDedup:
    """foreachBatch body: bounded-state streaming exact-dedup (bloom
    seen-set; no false survivors, ≤ fpp unique-doc loss at capacity,
    saturation observable via ``on_capacity``)."""

    def __init__(self, store: SketchStore, job_id: str, sink_path: str,
                 expected_insertions: int = 10_000_000,
                 fpp: float = BloomFilter.DEFAULT_FPP,
                 text_col: str = "text", id_col: str = "doc_id",
                 on_capacity: str = "warn"):
        if on_capacity not in ("warn", "error", "roll"):
            raise ValueError("on_capacity must be 'warn', 'error' or 'roll'")
        self.store = store
        self.job_id = job_id
        self.sink_path = sink_path
        self.n = expected_insertions
        self.p = fpp
        self.text_col = text_col
        self.id_col = id_col
        self.on_capacity = on_capacity
        self.current_key = f"{job_id}.seen"
        self.keep_markers = 64  # epoch markers retained for redelivery checks
        self.capacity_events: list[dict] = []  # one dict per offending epoch

    # -- generation bookkeeping (only >1 after on_capacity='roll' fires)

    def _gen_key(self, g: int) -> str:
        return self.current_key if g == 0 else f"{self.current_key}.gen{g}"

    def _generations(self) -> list[int]:
        """Sorted generation ids present in the store (0 is implicit
        once anything was persisted)."""
        gens = [0] if self.store.exists(self.current_key) else []
        prefix = f"{self.current_key}.gen"
        gens += sorted(
            int(k[len(prefix):]) for k in self.store.keys()
            if k.startswith(prefix) and k[len(prefix):].isdigit()
        )
        return gens or [0]

    def _load_seen(self) -> list[BloomFilter]:
        """All generation filters, oldest first; the LAST one is the
        insert target."""
        out = []
        for g in self._generations():
            key = self._gen_key(g)
            out.append(self.store.get(key) if self.store.exists(key)
                       else BloomFilter(self.n, self.p))
        return out

    def _check_capacity(self, newest: BloomFilter, epoch_id: int) -> BloomFilter:
        """Apply the on_capacity policy after inserts; returns the
        filter future inserts should target (a fresh generation after a
        roll)."""
        est_fpr = newest.estimated_fpr()
        if est_fpr <= self.p:
            return newest
        event = {
            "epoch": int(epoch_id),
            "estimated_fpr": float(est_fpr),
            "configured_fpp": float(self.p),
            "approx_items": float(newest.estimate()),
            "capacity": int(self.n),
            "action": self.on_capacity,
        }
        self.capacity_events.append(event)
        if self.on_capacity == "error":
            raise CapacityExceeded(
                f"streaming seen-filter past capacity at epoch {epoch_id}: "
                f"fill-estimated FPR {est_fpr:.4f} > configured {self.p} "
                f"(~{newest.estimate():.0f} items in an n={self.n} filter); "
                f"unique-doc loss is no longer bounded by fpp"
            )
        if self.on_capacity == "roll":
            g = self._generations()[-1] + 1
            fresh = BloomFilter(self.n, self.p)
            self.store.put(self._gen_key(g), fresh)
            warnings.warn(
                f"streaming seen-filter rolled to generation {g} at epoch "
                f"{epoch_id} (estimated FPR {est_fpr:.4f} > {self.p}); state "
                f"is now {g + 1} filters", stacklevel=2)
            return fresh
        warnings.warn(
            f"streaming seen-filter past capacity at epoch {epoch_id}: "
            f"fill-estimated FPR {est_fpr:.4f} > configured {self.p}; "
            f"new-doc loss now exceeds the fpp bound "
            f"(on_capacity='warn' — consider 'roll' or a sharded family)",
            stacklevel=2)
        return newest

    def process_batch(self, batch_df: DataFrame, epoch_id: int) -> int:
        """Returns the number of rows emitted for this batch."""
        spark = batch_df.sparkSession
        if _epoch_marked(self.store, self.job_id, epoch_id):
            # re-delivered epoch: filter state already reflects it; the
            # sink write below was epoch-keyed too, so nothing to do
            return 0
        in_batch_first = _in_batch_first(batch_df, self.text_col, self.id_col)
        gens = self._generations()
        seen = self._load_seen()
        newest_key = self._gen_key(gens[-1])
        cond = ~contains_udf(spark, seen[0])(F.col("__digest"))
        for g in seen[1:]:
            cond &= ~contains_udf(spark, g)(F.col("__digest"))
        fresh = in_batch_first.filter(cond).cache()
        emitted = fresh.count()
        newest = seen[-1]
        if emitted:
            # overwrite the per-epoch dir, not append: a retry after a
            # completed sink write but before the filter persisted
            # re-emits the same rows — overwrite makes that idempotent
            # (exactly-once sink content per epoch)
            fresh.drop("__digest").write.mode("overwrite").parquet(
                f"{self.sink_path}/epoch={epoch_id}"
            )
            new_digests = [r[0] for r in fresh.select("__digest").collect()] \
                if emitted <= 100_000 else None
            if new_digests is not None:
                newest.add_strings(new_digests)
            else:
                # large batch: build the digest bloom distributed, then
                # union into the seen-set (identical geometry)
                from presto_bloomfilter_spark.operators.aggregate import aggregate_sketch, sketch_spec

                part = aggregate_sketch(
                    fresh.select("__digest"), sketch_spec(BloomFilter, "__digest", "strings", self.n, self.p)
                )
                newest.merge(part)
        fresh.unpersist()
        if emitted:
            # all-duplicate epochs insert nothing: the persisted filter
            # is byte-identical to what's already on disk, so skip the
            # multi-MB atomic rewrite (the epoch marker below still
            # records the epoch as processed, preserving idempotence)
            self.store.put(newest_key, newest)
        self._check_capacity(newest, epoch_id)
        _mark_epoch(self.store, self.job_id, epoch_id, self.keep_markers)
        return emitted

    def attach(self, stream_df: DataFrame, checkpoint: str):
        """Wire onto a streaming DataFrame: returns the StreamingQuery."""
        return (
            stream_df.writeStream.foreachBatch(
                lambda df, eid: self.process_batch(df, eid)
            )
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )


class ShardedStreamingBloomDedup:
    """Streaming exact-dedup whose seen-set is a SHARDED bloom family —
    the S>1 scale form of :class:`StreamingBloomDedup`.

    Digests route to shard = xxhash64(digest) mod S on both insert and
    probe (``operators/sharded.py``), so:

    - every store object is an n/S filter — no single filter exceeds
      one task's memory at any total capacity;
    - the probe is shard-local: each task loads exactly ONE shard
      filter (executor LRU) and anti-probes its whole partition
      vectorized — rows that probe true in their shard are dropped as
      probably-seen, the complement is emitted (``keep_hits=False``);
    - inserts build per-shard partial filters in one distributed
      grouped job (raw digests never shuffle — only S blobs), then
      merge shard-wise into the persisted family (bitset OR, same
      merge algebra as everything else).

    Semantics match S=1 exactly: no duplicate survives (each digest
    deterministically probes the shard it was inserted into), unique
    loss ≤ per-shard fpp, epochs are idempotent via the same marker
    scheme.  Saturation is per-shard: any shard past its fill bound
    triggers ``on_capacity`` ('warn' or 'error'; rolling a sharded
    family means re-sharding — start a new family — so 'roll' is not
    offered here).

    **Epoch updates are ATOMIC across shards.**  An S=1 epoch commits
    state with a single atomic ``put``; naively persisting S shard
    objects one at a time re-opens a crash window — a failure between
    two puts followed by Structured Streaming's epoch redelivery would
    make the probe drop rows whose shard already merged, and the
    overwrite sink write would then replace the complete epoch output
    with the subset (silent, permanent row loss).  Instead the live
    family is resolved through the v2 manifest (``shard_keys``: shard →
    versioned store key):

    1. merged shard filters are STAGED under epoch-versioned keys
       (``{family}.s{s}.e{epoch}``) — the live objects the probe reads
       are never touched;
    2. the manifest is swapped (``put_meta`` = atomic rename) to point
       at the staged keys — this is the one commit point;
    3. the epoch marker is written, then superseded shard versions are
       pruned (best-effort).

    A crash before the swap leaves the manifest on the old versions, so
    a retry re-probes identical state, re-emits the identical row set
    (the sink overwrite is byte-idempotent), and re-stages the same
    merged shards.  A crash after the swap but before the marker makes
    the retry's probe drop everything (all digests now seen), so
    ``emitted == 0`` skips the sink write — the prior attempt's
    complete sink output survives — and the epoch is then marked."""

    def __init__(self, store_root: str, job_id: str, sink_path: str,
                 shards: int = 4,
                 expected_insertions_per_shard: int = 2_500_000,
                 fpp: float = BloomFilter.DEFAULT_FPP,
                 text_col: str = "text", id_col: str = "doc_id",
                 on_capacity: str = "warn"):
        if on_capacity not in ("warn", "error"):
            raise ValueError("on_capacity must be 'warn' or 'error'")
        self.store_root = store_root
        self.store = SketchStore(store_root)
        self.job_id = job_id
        self.sink_path = sink_path
        self.shards = shards
        self.n = expected_insertions_per_shard
        self.p = fpp
        self.text_col = text_col
        self.id_col = id_col
        self.on_capacity = on_capacity
        self.family = f"{job_id}.seen"
        self.keep_markers = 64
        self.capacity_events: list[dict] = []

    def _manifest_key(self) -> str:
        return f"{self.family}.manifest"

    def _read_manifest(self) -> dict:
        import json

        return json.loads(self.store.get_meta(self._manifest_key()))

    def _swap_manifest(self, shard_keys: dict[int, str],
                       saturated: list[int] | None = None) -> None:
        """The single atomic commit point for an epoch's state update:
        point the manifest at the (possibly staged) shard keys.
        ``saturated`` shards are recorded IN the manifest so the
        condition survives restarts (see process_batch)."""
        import json

        self.store.put_meta(
            self._manifest_key(),
            json.dumps({
                "name": self.family, "shards": self.shards,
                "format": "pbfs-sharded-v2",
                "shard_keys": {str(s): k for s, k in sorted(shard_keys.items())},
                "saturated": sorted(saturated or []),
            }).encode())

    def _sweep_orphans(self, live: dict[int, str]) -> None:
        """Delete shard versions not referenced by the (just-swapped)
        manifest — catches versions whose prune failed in an earlier
        epoch so nothing leaks forever.  Best-effort like the prune."""
        referenced = set(live.values())
        prefix = f"{self.family}.s"
        for key in self.store.keys():
            if key.startswith(prefix) and key not in referenced:
                try:
                    self.store.delete(key)
                except OSError:  # pragma: no cover — env-specific
                    pass

    def _ensure_family(self) -> None:
        """First batch: persist the empty S-shard family + v2 manifest
        so the probe path's loud-missing-shard guarantee holds from
        epoch zero and every later update is a manifest swap."""
        if not self.store.meta_exists(self._manifest_key()):
            # distinct ".init" suffix: epoch 0's staged keys are
            # ".e0", so staging never writes over a live object
            keys = {}
            for s in range(self.shards):
                keys[s] = f"{self.family}.s{s}.init"
                self.store.put(keys[s], BloomFilter(self.n, self.p))
            self._swap_manifest(keys)

    def process_batch(self, batch_df: DataFrame, epoch_id: int) -> int:
        """Returns the number of rows emitted for this batch."""
        from presto_bloomfilter_spark.functions.serialization import sketch_from_bytes
        from presto_bloomfilter_spark.operators.sharded import (
            build_sharded_bloom,
            sharded_contains,
        )

        spark = batch_df.sparkSession
        self._ensure_family()
        # saturation recorded in the manifest survives restarts: with
        # on_capacity='error' EVERY batch fails until the operator
        # re-shards — including redelivered/all-duplicate batches that
        # would otherwise silently resume past-capacity ingestion
        saturated = [int(s) for s in self._read_manifest().get("saturated", [])]
        if saturated and self.on_capacity == "error":
            raise CapacityExceeded(
                f"sharded seen-family {self.family} has saturated shard(s) "
                f"{saturated} (recorded in the manifest); per-shard FPR "
                f"exceeds {self.p} — re-shard to a larger family")
        if _epoch_marked(self.store, self.job_id, epoch_id):
            return 0
        in_batch_first = _in_batch_first(batch_df, self.text_col, self.id_col)
        fresh = sharded_contains(
            spark, in_batch_first, "__digest", self.store_root,
            self.family, self.shards, keep_hits=False,
        ).cache()
        emitted = fresh.count()
        capacity_msgs: list[str] = []
        if emitted:
            fresh.drop("__digest").write.mode("overwrite").parquet(
                f"{self.sink_path}/epoch={epoch_id}"
            )
            # distributed per-shard partial build: raw digests never
            # shuffle, only S blobs reach the driver for the shard-wise
            # bitset-OR into the persisted family
            partial = build_sharded_bloom(
                fresh.select("__digest"), "__digest", self.shards, self.n, self.p)
            manifest = self._read_manifest()
            live = {int(s): str(k) for s, k in manifest["shard_keys"].items()}
            staged = dict(live)
            newly_saturated = set(saturated)
            for r in partial.collect():
                s = int(r.shard)
                # STAGE: merge onto the live object but write to an
                # epoch-versioned key; the live family is untouched
                # until the manifest swap below, so a crash anywhere in
                # this loop leaves probe state exactly pre-epoch
                merged = self.store.get(live[s])
                merged.merge(sketch_from_bytes(bytes(r.sketch)))
                staged[s] = f"{self.family}.s{s}.e{epoch_id}"
                self.store.put(staged[s], merged)
                est_fpr = merged.estimated_fpr()
                if est_fpr > self.p:
                    newly_saturated.add(s)
                    self.capacity_events.append({
                        "epoch": int(epoch_id), "shard": s,
                        "estimated_fpr": float(est_fpr),
                        "configured_fpp": float(self.p),
                        "approx_items": float(merged.estimate()),
                        "capacity_per_shard": int(self.n),
                        "action": self.on_capacity,
                    })
                    capacity_msgs.append(
                        f"sharded seen-family shard {s} past capacity "
                        f"at epoch {epoch_id}: estimated FPR {est_fpr:.4f} "
                        f"> {self.p}")
            # atomic commit of ALL shards (+ the saturation record)
            self._swap_manifest(staged, sorted(newly_saturated))
            # prune superseded versions: best-effort as documented — a
            # transient store error must not fail a committed epoch;
            # anything missed is swept by a later epoch's orphan scan
            for s, old_key in live.items():
                if staged[s] != old_key:
                    try:
                        self.store.delete(old_key)
                    except OSError as e:  # pragma: no cover — env-specific
                        warnings.warn(
                            f"prune of superseded shard {old_key!r} failed "
                            f"({e}); will be swept later", stacklevel=2)
            self._sweep_orphans(staged)
        fresh.unpersist()
        _mark_epoch(self.store, self.job_id, epoch_id, self.keep_markers)
        # raise AFTER the swap + marker: state is committed and complete
        # (no retry window), and every subsequent epoch re-raises while
        # the shard stays saturated, so the stream keeps failing loudly
        # until the operator re-shards
        if capacity_msgs and self.on_capacity == "error":
            raise CapacityExceeded("; ".join(capacity_msgs))
        for msg in capacity_msgs:
            warnings.warn(msg + " (re-shard to a larger family)", stacklevel=2)
        return emitted

    def attach(self, stream_df: DataFrame, checkpoint: str):
        """Wire onto a streaming DataFrame: returns the StreamingQuery."""
        return (
            stream_df.writeStream.foreachBatch(
                lambda df, eid: self.process_batch(df, eid)
            )
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
