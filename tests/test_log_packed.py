"""The snapshot log stores each snapshot packed: empty lists and dicts,
``partition: {}``, ``rows: null``, and an ``added_in`` / delete
``snapshot_id`` equal to the snapshot's own id are left out on disk and
restored on load, so every reader sees the full form."""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pyiceberg_lakehouse_spark.lakehouse import Lakehouse
from pyiceberg_lakehouse_spark.lakehouse.log import SnapshotLog, decode_log
from pyiceberg_lakehouse_spark.lakehouse.maintenance import expire_snapshots

SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType()),
        T.StructField("p", T.StringType()),
        T.StructField("v", T.StringType()),
    ]
)


def _state(log: SnapshotLog) -> tuple:
    return (
        [s.to_json() for s in log.snapshots],
        [log.live_files(s.snapshot_id) for s in log.snapshots],
        [log.live_deletes(s.snapshot_id) for s in log.snapshots],
        log.schema_json,
        log.partition_by,
        log.properties,
        log.refs,
    )


def _entry(log: SnapshotLog, snapshot_id: int) -> dict:
    path = os.path.join(log.entry_dir, log._entry_name(snapshot_id))
    with open(path, "rb") as f:
        return json.loads(decode_log(f.read(), path))["snapshot"]


def test_mixed_history_reloads_equal(spark, warehouse, tmp_path):
    t = Lakehouse(spark, warehouse).create_table("ns.packed", SCHEMA, partition_by=["p"])
    t.append(spark.createDataFrame([(i, "ab"[i % 2], f"v{i}") for i in range(8)], SCHEMA))
    registered = str(tmp_path / "registered.parquet")
    pq.write_table(pa.table({"k": [100, 101], "v": ["r0", "r1"]}), registered)
    t.add_files([registered], partition_values={"p": "c"})
    t.delete_where(F.col("k") == 1)
    t.delete_keys(spark.createDataFrame([(2,)], "k long"), ["k"])
    t.delete_where_positions(F.col("k") == 3)
    assert any(s.removed_paths for s in t.log.snapshots)
    t.rollback_to(t.log.snapshots[-2].snapshot_id)
    t.rename_column("v", "w")
    t.append(spark.createDataFrame([(9, "a", "v9")], t.schema()))
    t.tag("before-expiry")
    t.set_properties({"owner": "ingest"})

    def reloads_equal() -> None:
        assert _state(SnapshotLog(t.table_dir).load()) == _state(t.log)

    reloads_equal()
    expire_snapshots(t, keep_last=1)
    t.append(spark.createDataFrame([(10, "b", "v10")], t.schema()))
    assert t.log.snapshots[0].summary.get("rename_history")
    reloads_equal()


def test_full_encoding_log_loads_equal_and_commits_packed(tmp_path):
    """A log written before packing (every key, in the base and in its
    entries) loads as written; the next commit's entry is packed, and the
    mixed log reloads equal."""
    log = SnapshotLog(str(tmp_path / "t"))
    log.init_table(T.StructType([T.StructField("id", T.LongType())]), ["p"])
    snaps = [
        {
            "snapshot_id": i,
            "parent_id": i - 1 if i > 1 else None,
            "operation": "create" if i == 1 else "append",
            "timestamp_ms": 1_700_000_000_000 + i,
            "added_files": [] if i == 1 else [
                {"path": f"/d/{i}.parquet", "partition": {}, "rows": None, "added_in": i}
            ],
            "removed_paths": [],
            "added_deletes": [] if i != 4 else [
                {"path": "/d/del.parquet", "key_cols": ["id"], "snapshot_id": 4}
            ],
            "summary": {},
        }
        for i in range(1, 6)
    ]
    base = {"format_version": 2, **log._meta(), "snapshots": snaps[:3]}
    with open(log.path, "w") as f:
        json.dump(base, f)
    for s in snaps[3:]:
        with open(os.path.join(log.entry_dir, log._entry_name(s["snapshot_id"])), "w") as f:
            json.dump({"snapshot": s}, f)

    old = SnapshotLog(log.table_dir).load()
    assert [s.to_json() for s in old.snapshots] == snaps
    snap = old.commit("append", [{"path": "/d/6.parquet", "partition": {}, "rows": None}])
    assert _entry(old, snap.snapshot_id) == {
        "snapshot_id": 6,
        "parent_id": 5,
        "operation": "append",
        "timestamp_ms": snap.timestamp_ms,
        "added_files": [{"path": "/d/6.parquet"}],
    }
    again = SnapshotLog(log.table_dir).load()
    assert [s.to_json() for s in again.snapshots] == [s.to_json() for s in old.snapshots]


def test_add_files_entry_has_no_default_valued_key(spark, warehouse):
    t = Lakehouse(spark, warehouse).create_table("ns.lean", SCHEMA)
    [snap] = t.add_files(["/data/f0.parquet"], batch_size=1)
    entry = _entry(t.log, snap.snapshot_id)
    assert entry == {
        "snapshot_id": snap.snapshot_id,
        "parent_id": snap.parent_id,
        "operation": "add_files",
        "timestamp_ms": snap.timestamp_ms,
        "added_files": [{"path": "/data/f0.parquet"}],
        "summary": {"batch": 0},
    }
    assert SnapshotLog(t.table_dir).load().snapshots[-1].to_json() == snap.to_json()


def test_rollback_entry_keeps_original_sequencing(spark, warehouse):
    t = Lakehouse(spark, warehouse).create_table("ns.rolled", SCHEMA)
    t.append(spark.createDataFrame([(i, "a", f"v{i}") for i in range(6)], SCHEMA))
    target = t.delete_keys(spark.createDataFrame([(1,)], "k long"), ["k"])
    t.delete_where_positions(F.col("k") == 2)
    t.append(spark.createDataFrame([(9, "a", "v9")], SCHEMA))
    rolled = t.rollback_to(target.snapshot_id)
    entry = _entry(t.log, rolled.snapshot_id)
    want_files = {f["path"]: f["added_in"] for f in t.log.live_files(target.snapshot_id)}
    want_deletes = {d["path"]: d["snapshot_id"] for d in t.log.live_deletes(target.snapshot_id)}
    assert want_files and want_deletes
    assert {f["path"]: f["added_in"] for f in entry["added_files"]} == want_files
    assert {d["path"]: d["snapshot_id"] for d in entry["added_deletes"]} == want_deletes
    assert sorted(tuple(r) for r in t.scan().select("k").collect()) == [
        (0,), (2,), (3,), (4,), (5,)
    ]


def test_committing_handle_holds_the_defaults_a_reload_restores(tmp_path):
    """``commit`` fills the entry defaults ``from_json`` restores, so the
    committing handle and a fresh load agree; rollback-style commits keep
    the sequencing they carry, and the stored entry stays packed."""
    log = SnapshotLog(str(tmp_path / "t"))
    log.init_table(SCHEMA, [])
    log.commit("append", [{"path": "/x/a.parquet", "rows": 3}])
    snap = log.commit(
        "replace",
        [{"path": "/x/b.parquet", "added_in": 2}],
        added_deletes=[{"path": "/x/d.parquet", "key_cols": ["k"], "snapshot_id": 2}],
        preserve_sequencing=True,
    )
    assert log.live_files()[0] == {
        "path": "/x/a.parquet", "partition": {}, "rows": 3, "added_in": 2
    }
    assert snap.added_files == [
        {"path": "/x/b.parquet", "partition": {}, "rows": None, "added_in": 2}
    ]
    assert _entry(log, 2)["added_files"] == [{"path": "/x/a.parquet", "rows": 3}]
    again = SnapshotLog(log.table_dir).load()
    assert [s.to_json() for s in again.snapshots] == [s.to_json() for s in log.snapshots]
