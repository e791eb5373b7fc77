"""Minimal Delta-protocol table source: snapshot reads + time travel.

A pure-Python reader/writer for the open Delta Lake transaction-log
protocol (https://github.com/delta-io/delta/blob/master/PROTOCOL.md):
a table is a directory of immutable parquet data files plus a
``_delta_log/`` of ordered JSON commits (``%020d.json``), each a list
of newline-delimited actions — ``metaData``, ``add`` (a data file
enters the snapshot), ``remove`` (it leaves).  Replaying the log up to
version v yields the exact file manifest of snapshot v, which is what
makes incremental sketch maintenance production-shaped: the snapshot
ID is a real table version, the delta between two versions is read
off the log (no directory listing, no file-set fingerprinting), and
time travel is "stop replaying earlier".

Scope: the subset needed for manifest-driven reads and snapshot-keyed
``IncrementalBuild`` — json commits, add/remove with relative or
absolute paths, metaData passthrough.  Not implemented (loud, not
silent): parquet checkpoints (``_last_checkpoint``), column mapping,
deletion vectors.  Tables written by this module are readable by any
Delta reader that tolerates a missing checkpoint (the protocol only
requires checkpoints every N commits as an optimization).

Scale posture: the log holds one small JSON line per file action —
replay is O(actions) driver-side metadata work, exactly like Delta's
own Snapshot reconstruction; data files are never touched until the
returned manifest is handed to the (distributed) parquet scan.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass

__all__ = ["DeltaTable", "create_delta_table", "DeltaSnapshot"]

_LOG_DIR = "_delta_log"
_PROTOCOL = {"minReaderVersion": 1, "minWriterVersion": 2}


def _commit_path(log_dir: str, version: int) -> str:
    return os.path.join(log_dir, f"{version:020d}.json")


@dataclass(frozen=True)
class DeltaSnapshot:
    """One reconstructed snapshot: ``version``, the active data-file
    manifest (absolute paths, log order-independent sorted), per-file
    sizes from the log (NOT the filesystem — manifest-driven, the
    Iceberg/Delta property the fingerprinting path lacked), and the
    table's metaData action (schema etc.)."""

    version: int
    files: tuple[str, ...]
    sizes: dict[str, int]
    metadata: dict

    @property
    def snapshot_id(self) -> str:
        """Stable id for checkpoint/lineage keying: table id + version."""
        return f"{self.metadata.get('id', 'delta')}@v{self.version}"


class DeltaTable:
    """Reader + minimal writer for one Delta-protocol table directory."""

    def __init__(self, path: str):
        self.path = os.path.abspath(path)
        self.log_dir = os.path.join(self.path, _LOG_DIR)
        if not os.path.isdir(self.log_dir):
            raise FileNotFoundError(
                f"not a Delta table (no {_LOG_DIR}/): {self.path}")
        if os.path.exists(os.path.join(self.log_dir, "_last_checkpoint")):
            raise NotImplementedError(
                "parquet checkpoints are not supported by this minimal "
                "reader — replaying json commits only")

    # ---- log replay ----------------------------------------------------------

    def versions(self) -> list[int]:
        out = []
        for name in os.listdir(self.log_dir):
            if name.endswith(".json") and name[:-5].isdigit():
                out.append(int(name[:-5]))
        return sorted(out)

    def latest_version(self) -> int:
        vs = self.versions()
        if not vs:
            raise ValueError(f"empty Delta log: {self.log_dir}")
        return vs[-1]

    def _abs(self, rel: str) -> str:
        # the protocol allows absolute URIs in `path`; relative paths
        # are relative to the table root
        return rel if os.path.isabs(rel) else os.path.join(self.path, rel)

    def snapshot(self, version: int | None = None) -> DeltaSnapshot:
        """Replay commits 0..version (default: latest) into the active
        file manifest.  A `remove` of an unknown file and a version
        gap are loud errors — a silent skip would return a wrong
        manifest, the one failure mode a snapshot reader must not
        have."""
        target = self.latest_version() if version is None else int(version)
        versions = self.versions()
        if target not in versions:
            raise ValueError(
                f"version {target} not in log (have {versions[0]}..{versions[-1]})")
        replay = [v for v in versions if v <= target]
        if replay != list(range(target + 1)):
            raise ValueError(f"log has gaps: {replay}")
        active: dict[str, int] = {}
        metadata: dict = {}
        for v in replay:
            with open(_commit_path(self.log_dir, v)) as fh:
                for line in fh:
                    line = line.strip()
                    if not line:
                        continue
                    action = json.loads(line)
                    if "metaData" in action:
                        metadata = action["metaData"]
                    elif "add" in action:
                        a = action["add"]
                        active[self._abs(a["path"])] = int(a.get("size", 0))
                    elif "remove" in action:
                        p = self._abs(action["remove"]["path"])
                        if p not in active:
                            raise ValueError(
                                f"commit {v} removes unknown file {p!r}")
                        del active[p]
                    # protocol/commitInfo/txn actions carry no file state
        return DeltaSnapshot(version=target,
                             files=tuple(sorted(active)),
                             sizes=dict(active), metadata=metadata)

    def read(self, spark, version: int | None = None):
        """DataFrame over the snapshot's manifest (time travel via
        ``version``).  An empty snapshot needs the schema from
        metaData — not implemented; empty tables raise loudly."""
        snap = self.snapshot(version)
        if not snap.files:
            raise ValueError(
                f"snapshot v{snap.version} has no data files — cannot "
                "infer a schema without a metaData parser")
        return spark.read.parquet(*snap.files)

    # ---- minimal writer ------------------------------------------------------

    def commit(self, adds: list[str] = (), removes: list[str] = ()) -> int:
        """Append the next commit with `add`/`remove` actions for the
        given data-file paths (absolute, inside the table dir →
        recorded relative).  Atomic via write-temp + ``os.rename`` —
        the same put-if-absent commit discipline the protocol
        requires; a concurrent winner surfaces as FileExistsError."""
        if not adds and not removes:
            raise ValueError("empty commit")
        version = self.latest_version() + 1
        lines = []
        for p in removes:
            lines.append(json.dumps({"remove": {
                "path": self._rel(p), "dataChange": True,
                "deletionTimestamp": int(time.time() * 1000)}}))
        for p in adds:
            lines.append(json.dumps({"add": {
                "path": self._rel(p), "size": os.path.getsize(p),
                "partitionValues": {},
                "modificationTime": int(os.path.getmtime(p) * 1000),
                "dataChange": True}}))
        return self._write_commit(version, lines)

    def _rel(self, p: str) -> str:
        p = os.path.abspath(p)
        if p.startswith(self.path + os.sep):
            return os.path.relpath(p, self.path)
        return p

    def _write_commit(self, version: int, lines: list[str]) -> int:
        final = _commit_path(self.log_dir, version)
        tmp = final + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as fh:
            fh.write("\n".join(lines) + "\n")
        # put-if-absent: link() fails atomically when another writer's
        # commit already holds the name, where exists()+rename() would
        # let the race's loser replace the winner's commit
        try:
            os.link(tmp, final)
        except FileExistsError:
            raise FileExistsError(f"commit {version} already exists") from None
        finally:
            os.unlink(tmp)
        return version


def create_delta_table(path: str, table_id: str,
                       schema_string: str = "") -> DeltaTable:
    """Initialize an empty Delta table: mkdir + commit 0 carrying the
    protocol and metaData actions."""
    log_dir = os.path.join(os.path.abspath(path), _LOG_DIR)
    os.makedirs(log_dir, exist_ok=True)
    if os.path.exists(_commit_path(log_dir, 0)):
        raise FileExistsError(f"table already initialized: {path}")
    t = DeltaTable.__new__(DeltaTable)
    t.path = os.path.abspath(path)
    t.log_dir = log_dir
    t._write_commit(0, [
        json.dumps({"protocol": _PROTOCOL}),
        json.dumps({"metaData": {
            "id": table_id, "format": {"provider": "parquet", "options": {}},
            "schemaString": schema_string, "partitionColumns": [],
            "configuration": {},
            "createdTime": int(time.time() * 1000)}}),
    ])
    return DeltaTable(path)
