"""Minimal Delta-protocol source (sources/delta.py) and the
snapshot-keyed incremental sketch maintenance built on it.

The reader's one job is a CORRECT manifest: log replay, time travel,
and the loud failure modes (gaps, unknown removes, checkpointed
tables) are pinned here; the Spark read and IncrementalBuild
integration run against a real local table directory.
"""

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from presto_bloomfilter_spark import HyperLogLog
from presto_bloomfilter_spark.sources import delta


def _write_parquet(path, ids):
    pq.write_table(pa.table({"doc_id": pa.array(ids, pa.string())}), path)
    return path


@pytest.fixture()
def table(tmp_path):
    t = delta.create_delta_table(str(tmp_path / "tbl"), "tbl-1",
                                 schema_string="{}")
    os.makedirs(t.path + "/data", exist_ok=True)
    return t


def test_create_and_replay_manifest(table):
    f1 = _write_parquet(table.path + "/data/f1.parquet", ["a", "b"])
    f2 = _write_parquet(table.path + "/data/f2.parquet", ["c"])
    assert table.snapshot().files == ()          # v0: metadata only
    v1 = table.commit(adds=[f1])
    v2 = table.commit(adds=[f2])
    assert (v1, v2) == (1, 2)
    snap = table.snapshot()
    assert snap.version == 2
    assert snap.files == (f1, f2)
    assert snap.sizes == {f1: os.path.getsize(f1), f2: os.path.getsize(f2)}
    assert snap.snapshot_id == "tbl-1@v2"
    # paths are recorded RELATIVE in the log (protocol-portable table)
    log1 = open(table.log_dir + "/" + "0" * 19 + "1.json").read()
    assert json.loads(log1)["add"]["path"] == "data/f1.parquet"


def test_time_travel_and_remove(table):
    f1 = _write_parquet(table.path + "/data/f1.parquet", ["a"])
    f2 = _write_parquet(table.path + "/data/f2.parquet", ["b"])
    table.commit(adds=[f1])
    table.commit(adds=[f2], removes=[f1])
    assert table.snapshot(1).files == (f1,)      # time travel
    assert table.snapshot(2).files == (f2,)
    assert table.snapshot(0).files == ()


def test_loud_failure_modes(table, tmp_path):
    f1 = _write_parquet(table.path + "/data/f1.parquet", ["a"])
    table.commit(adds=[f1])
    with pytest.raises(ValueError, match="not in log"):
        table.snapshot(9)
    with pytest.raises(ValueError, match="removes unknown file"):
        table.commit(removes=[table.path + "/data/nope.parquet"])
        table.snapshot()
    # clean up the bad commit for the remaining probes
    os.unlink(table.log_dir + "/" + "0" * 19 + "2.json")
    with pytest.raises(ValueError, match="empty commit"):
        table.commit()
    # version gap
    os.rename(table.log_dir + "/" + "0" * 19 + "1.json",
              table.log_dir + "/" + "0" * 18 + "55.json")
    with pytest.raises(ValueError, match="gaps"):
        table.snapshot()
    # not a table
    with pytest.raises(FileNotFoundError, match="no _delta_log"):
        delta.DeltaTable(str(tmp_path / "nowhere"))
    # double init
    with pytest.raises(FileExistsError, match="already initialized"):
        delta.create_delta_table(table.path, "tbl-1")


def test_commit_race_is_put_if_absent(table):
    # two writers race for version 1: the loser's write-temp+rename
    # must surface FileExistsError, not clobber the winner
    with open(table.log_dir + "/" + "0" * 19 + "1.json", "w") as fh:
        fh.write(json.dumps({"add": {"path": "data/f1.parquet", "size": 1,
                                     "dataChange": True}}) + "\n")
    with pytest.raises(FileExistsError, match="commit 1 already exists"):
        table._write_commit(1, ["{}"])
    # the winner's commit content is untouched
    assert "f1.parquet" in open(table.log_dir + "/" + "0" * 19 + "1.json").read()


def test_two_writers_same_version_exactly_one_wins(table, monkeypatch):
    """Two writers commit version 1 at once: one commit lands, the
    other writer gets FileExistsError, and no temp file is left.  Each
    writer's publishing call waits until the other writer has got that
    far, so both have finished any existence check before either
    commit appears — the interleaving a check-then-rename loses."""
    import threading

    publish_gate = threading.Barrier(2)

    def gated(fn):
        def publish(*args, **kwargs):
            try:
                publish_gate.wait(timeout=5)
            except threading.BrokenBarrierError:  # the other writer never got here
                pass
            return fn(*args, **kwargs)
        return publish

    for name in ("link", "rename", "replace"):
        monkeypatch.setattr(os, name, gated(getattr(os, name)))
    results = {}

    def writer(name):
        handle = delta.DeltaTable(table.path)
        line = json.dumps({"add": {"path": f"data/{name}.parquet", "size": 1,
                                   "dataChange": True}})
        try:
            results[name] = handle._write_commit(handle.latest_version() + 1, [line])
        except FileExistsError as e:
            results[name] = e

    threads = [threading.Thread(target=writer, args=(n,)) for n in ("a", "b")]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=30)
        assert not t.is_alive()
    winners = [n for n, r in results.items() if r == 1]
    losers = [n for n, r in results.items() if isinstance(r, FileExistsError)]
    assert len(winners) == 1 and len(losers) == 1
    assert f"{winners[0]}.parquet" in open(table.log_dir + "/" + "0" * 19 + "1.json").read()
    assert sorted(os.listdir(table.log_dir)) == ["0" * 20 + ".json", "0" * 19 + "1.json"]


def test_checkpointed_table_is_loud(table):
    open(table.log_dir + "/_last_checkpoint", "w").write("{}")
    with pytest.raises(NotImplementedError, match="checkpoint"):
        delta.DeltaTable(table.path)


def test_spark_read_time_travel(spark, table):
    f1 = _write_parquet(table.path + "/data/f1.parquet", ["a", "b"])
    f2 = _write_parquet(table.path + "/data/f2.parquet", ["c"])
    table.commit(adds=[f1])
    table.commit(adds=[f2])
    assert table.read(spark, 1).count() == 2
    assert sorted(r.doc_id for r in table.read(spark).collect()) == \
        ["a", "b", "c"]
    with pytest.raises(ValueError, match="no data files"):
        table.read(spark, 0)


def test_incremental_aggregate_delta_snapshot_keyed(spark, table, tmp_path):
    from presto_bloomfilter_spark.operators import aggregate as agg
    from presto_bloomfilter_spark.store import (
        IncrementalBuild, SketchStore, incremental_aggregate_delta)

    f1 = _write_parquet(table.path + "/data/f1.parquet",
                        [f"a{i}" for i in range(300)])
    f2 = _write_parquet(table.path + "/data/f2.parquet",
                        [f"b{i}" for i in range(200)])
    table.commit(adds=[f1])
    store = SketchStore(str(tmp_path / "store"))
    spec = agg.sketch_spec(HyperLogLog, "doc_id", "strings")

    sk1, n1 = incremental_aggregate_delta(spark, table, spec, store, "dj", 1)
    assert n1 == 1
    assert IncrementalBuild(store, "dj").snapshot == "tbl-1@v1"
    table.commit(adds=[f2])
    sk2, n2 = incremental_aggregate_delta(spark, table.path, spec, store, "dj")
    assert n2 == 1                                  # only the v2 delta
    assert IncrementalBuild(store, "dj").snapshot == "tbl-1@v2"
    _, n3 = incremental_aggregate_delta(spark, table, spec, store, "dj")
    assert n3 == 0                                  # idempotent re-run
    full = agg.aggregate_sketch(table.read(spark), spec)
    assert sk2.to_bytes() == full.to_bytes()        # merge associativity
    assert abs(sk2.estimate() - 500) <= 0.03 * 500
    assert abs(sk1.estimate() - 300) <= 0.05 * 300
