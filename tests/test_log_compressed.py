"""The snapshot log stores its base and entries zlib-compressed, reads the
plain JSON of earlier versions, folds on decoded bytes, and rejects
malformed bytes as ``ValueError``. Pure file I/O, no Spark."""

from __future__ import annotations

import json
import os
import re
import zlib

import pytest
from pyspark.sql import types as T

from pyiceberg_lakehouse_spark.lakehouse.log import Snapshot, SnapshotLog, decode_log

SCHEMA = T.StructType([T.StructField("id", T.LongType())])


def _file(i: int) -> dict:
    return {"path": f"/warehouse/ns/t/data/part-{i:05d}.parquet", "partition": {}, "rows": 50}


def _new_log(tmp_path) -> SnapshotLog:
    log = SnapshotLog(str(tmp_path / "t"))
    log.init_table(SCHEMA, [])
    return log


def _raw(path: str) -> bytes:
    with open(path, "rb") as f:
        return f.read()


def _entry_path(log: SnapshotLog, snapshot_id: int) -> str:
    return os.path.join(log.entry_dir, log._entry_name(snapshot_id))


def _state(log: SnapshotLog) -> tuple[list, list]:
    return (
        [s.to_json() for s in log.snapshots],
        [log.live_files(s.snapshot_id) for s in log.snapshots],
    )


def test_base_and_entries_are_compressed_and_marker_stays_empty(tmp_path):
    log = _new_log(tmp_path)
    snap = log.commit("append", [_file(0)])
    base, entry = _raw(log.path), _raw(_entry_path(log, snap.snapshot_id))
    assert base[:1] == entry[:1] == b"x"
    assert json.loads(zlib.decompress(entry))["snapshot"] == snap.packed()
    assert _raw(_entry_path(log, 1)) == b""  # the head marker init_table left
    assert decode_log(b"", log.path) == b""


def test_plain_log_loads_then_turns_compressed(tmp_path):
    """A log as earlier versions wrote it (plain JSON base, empty head
    marker, plain entries) loads equal; the next commit adds a compressed
    entry to the plain tail, and the next fold rewrites the base
    compressed. Snapshots and live files stay the same throughout."""
    table_dir = str(tmp_path / "t")
    snaps = [
        Snapshot(
            snapshot_id=i,
            parent_id=i - 1 if i > 1 else None,
            operation="create" if i == 1 else "append",
            timestamp_ms=1_700_000_000_000 + i,
            added_files=[] if i == 1 else [{**_file(i), "added_in": i}],
        )
        for i in range(1, 7)
    ]
    log = SnapshotLog(table_dir)
    log.schema_json = SCHEMA.json()
    os.makedirs(log.entry_dir)
    with open(log.path, "w") as f:
        f.write(json.dumps(
            {"format_version": 2, **log._meta(), "snapshots": [s.packed() for s in snaps[:3]]}
        ))
    open(_entry_path(log, 3), "w").close()
    for s in snaps[3:]:
        with open(_entry_path(log, s.snapshot_id), "w") as f:
            f.write(json.dumps({"snapshot": s.packed()}))

    log = SnapshotLog(table_dir).load()
    want = [s.to_json() for s in snaps]
    assert _state(log)[0] == want
    assert [f["path"] for f in log.live_files()] == [_file(i)["path"] for i in range(2, 7)]
    # decoded sizes equal on-disk sizes for a plain log
    assert log._base_len == os.path.getsize(log.path)

    snap = log.commit("append", [_file(7)])
    assert _raw(_entry_path(log, snap.snapshot_id))[:1] == b"x"
    assert _raw(log.path)[:1] == b"{"  # no fold yet: the mixed tail
    mixed = SnapshotLog(table_dir).load()
    assert _state(mixed) == _state(log)
    assert _state(mixed)[0][:6] == want

    base_ino = os.stat(log.path).st_ino
    i = 8
    while os.stat(log.path).st_ino == base_ino:
        log.commit("append", [_file(i)])
        i += 1
    assert _raw(log.path)[:1] == b"x"
    folded = SnapshotLog(table_dir).load()
    assert _state(folded) == _state(log)
    assert _state(folded)[0][:6] == want
    assert [f["path"] for f in folded.live_files()] == [
        _file(j)["path"] for j in range(2, i)
    ]


def test_fold_schedule_counts_decoded_bytes(tmp_path):
    """150 one-file commits fold 6 times, as they did when the log was
    stored plain: a base 9x smaller on disk must not fold 9x as often."""
    log = _new_log(tmp_path)
    folds = 0
    for i in range(150):
        base_ino = os.stat(log.path).st_ino
        log.commit("append", [_file(i)])
        folds += os.stat(log.path).st_ino != base_ino
    assert folds == 6
    assert os.path.getsize(log.path) < log._base_len


def _truncate(path: str) -> None:
    raw = _raw(path)
    with open(path, "wb") as f:
        f.write(raw[: len(raw) // 2])


def test_truncated_compressed_entry_raises_value_error(tmp_path):
    log = _new_log(tmp_path)
    snap = log.commit("append", [_file(0)])
    entry = _entry_path(log, snap.snapshot_id)
    _truncate(entry)
    with pytest.raises(ValueError, match=re.escape(entry)):
        SnapshotLog(log.table_dir).load()


def test_truncated_compressed_base_raises_value_error(tmp_path):
    log = _new_log(tmp_path)
    _truncate(log.path)
    with pytest.raises(ValueError, match=re.escape(log.path)):
        SnapshotLog(log.table_dir).load()


@pytest.mark.parametrize(
    "garbage",
    [b"x\x00\xff not zlib", b"\x00\xff\xfe garbage", b"{not json"],
    ids=["zlib-header", "binary", "plain"],
)
def test_garbage_log_bytes_raise_value_error(tmp_path, garbage):
    log = _new_log(tmp_path)
    with open(log.path, "wb") as f:
        f.write(garbage)
    with pytest.raises(ValueError):
        SnapshotLog(log.table_dir).load()
