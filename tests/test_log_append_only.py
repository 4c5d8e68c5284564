"""Append-only snapshot log: a commit writes one entry file, folds happen
only when the tail reaches the base, and the commit lock dies with its
holder. Pure file I/O, no Spark."""

from __future__ import annotations

import json
import os
import signal
import subprocess
import sys
import threading
import time

import pytest
from pyspark.sql import types as T

from pyiceberg_lakehouse_spark.lakehouse import log as log_mod
from pyiceberg_lakehouse_spark.lakehouse.log import SnapshotLog, _commit_lock

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _new_log(tmp_path) -> SnapshotLog:
    log = SnapshotLog(str(tmp_path / "t"))
    log.init_table(T.StructType([T.StructField("id", T.LongType())]), [])
    return log


def _files(i: int, n: int = 8) -> list[dict]:
    return [
        {"path": f"/warehouse/ns/t/data/part-{i:05d}-{j}.parquet", "partition": {}, "rows": 50}
        for j in range(n)
    ]


def _entry_ids(log: SnapshotLog) -> dict[int, str]:
    return {
        int(n.split(".")[0]): n for n in os.listdir(log.entry_dir) if not n.startswith(".")
    }


def _text(path: str) -> bytes:
    """A log file's JSON text, through the log's own reader."""
    with open(path, "rb") as f:
        return log_mod.decode_log(f.read(), path)


def _size(path: str) -> int:
    """A log file's decoded bytes: the size the fold rule counts."""
    return len(_text(path))


def _tail_bytes(log: SnapshotLog) -> int:
    """Decoded bytes of the entries above the base's last snapshot id."""
    base_last = json.loads(_text(log.path))["snapshots"][-1]["snapshot_id"]
    return sum(
        _size(os.path.join(log.entry_dir, n))
        for sid, n in _entry_ids(log).items()
        if sid > base_last
    )


def _sig(path: str) -> tuple[int, int, int]:
    st = os.stat(path)
    return st.st_ino, st.st_size, st.st_mtime_ns


def test_fresh_commit_writes_one_entry_and_reads_no_snapshot(tmp_path, monkeypatch):
    log = _new_log(tmp_path)
    for i in range(299):
        log.commit("append", _files(i))
    assert len(log.snapshots) == 300
    i = 299
    while _tail_bytes(log) >= _size(log.path):  # a fold is due
        log.commit("append", _files(i))
        i += 1

    before = _entry_ids(log)
    base_before = _sig(log.path)
    reads = {"json.load": 0, "json.loads": 0, "SnapshotLog.load": 0}

    def counting(name, fn):
        def wrapper(*a, **kw):
            reads[name] += 1
            return fn(*a, **kw)

        return wrapper

    with monkeypatch.context() as m:
        m.setattr(log_mod.json, "load", counting("json.load", json.load))
        m.setattr(log_mod.json, "loads", counting("json.loads", json.loads))
        m.setattr(SnapshotLog, "load", counting("SnapshotLog.load", SnapshotLog.load))
        snap = log.commit("append", _files(i))

    assert reads == {"json.load": 0, "json.loads": 0, "SnapshotLog.load": 0}
    after = _entry_ids(log)
    assert set(after) - set(before) == {snap.snapshot_id}
    assert set(before) <= set(after)  # nothing deleted
    assert _sig(log.path) == base_before  # base untouched
    size = _size(os.path.join(log.entry_dir, after[snap.snapshot_id]))
    one_snapshot = len(json.dumps(snap.packed()))
    assert one_snapshot <= size < one_snapshot + 64
    assert SnapshotLog(log.table_dir).load().current_snapshot_id() == snap.snapshot_id


def test_fold_only_when_tail_reaches_base_and_deletes_only_covered(tmp_path):
    log = _new_log(tmp_path)
    written = 0
    folds = 0
    for i in range(300):
        tail, base_before, base_len = _tail_bytes(log), _sig(log.path), _size(log.path)
        entries_before = _entry_ids(log)
        snap = log.commit("append", _files(i))
        entries_after = _entry_ids(log)
        written += _size(os.path.join(log.entry_dir, entries_after[snap.snapshot_id]))
        folded = _sig(log.path)[0] != base_before[0]
        assert folded == (tail >= base_len)
        if folded:
            folds += 1
            written += _size(log.path)
            base_last = json.loads(_text(log.path))["snapshots"][-1]["snapshot_id"]
            assert base_last == snap.snapshot_id - 1
            deleted = set(entries_before) - set(entries_after)
            assert deleted and max(deleted) < base_last  # covered by the base
            assert set(entries_after) == {base_last, snap.snapshot_id}
    final = _size(log.path) + _tail_bytes(log)
    # each fold at least doubles the base: a few folds, and the bytes they
    # write stay within a small multiple of the final log (a rewrite per
    # commit would write ~150x)
    assert 3 <= folds <= 12
    assert written < 4 * final
    on_disk = SnapshotLog(log.table_dir).load()
    assert [s.to_json() for s in on_disk.snapshots] == [
        s.to_json() for s in log.snapshots
    ]


def test_pre_entry_v2_log_loads_unchanged(tmp_path):
    """A log written before entries existed is a base with no entry
    directory: it loads as it did, and the next commit appends to it."""
    table_dir = tmp_path / "t"
    table_dir.mkdir()
    snaps = [
        {
            "snapshot_id": i,
            "parent_id": i - 1 if i > 1 else None,
            "operation": "create" if i == 1 else "append",
            "timestamp_ms": 1_700_000_000_000 + i,
            "added_files": [] if i == 1 else [
                {"path": f"/d/{i}.parquet", "partition": {"p": "x"}, "rows": 3, "added_in": i}
            ],
            "removed_paths": [],
            "added_deletes": [],
            "summary": {"n": i},
        }
        for i in (1, 2, 3)
    ]
    base = {
        "format_version": 2,
        "schema": T.StructType([T.StructField("id", T.LongType())]).json(),
        "partition_by": ["p"],
        "properties": {"k": "v"},
        "snapshots": snaps,
        "refs": {"tag": 2},
    }
    (table_dir / SnapshotLog.FILENAME).write_text(json.dumps(base))
    log = SnapshotLog(str(table_dir)).load()
    assert [s.to_json() for s in log.snapshots] == snaps
    assert (log.partition_by, log.properties, log.refs) == (["p"], {"k": "v"}, {"tag": 2})
    assert log.commit("append", _files(4, 1)).snapshot_id == 4
    again = SnapshotLog(str(table_dir)).load()
    assert [s.snapshot_id for s in again.snapshots] == [1, 2, 3, 4]
    assert again.refs == {"tag": 2}


def test_metadata_edit_rides_in_the_entry(tmp_path):
    """Schema evolution and rollup cursors edit the handle's metadata and
    then commit: the change lands atomically with its snapshot."""
    log = _new_log(tmp_path)
    base_before = _sig(log.path)
    schema = T.StructType([*log.schema().fields, T.StructField("x", T.StringType())])
    log.schema_json = schema.json()
    log.properties["cursor"] = "7"
    log.commit("schema_change", [], summary={"add_column": "x"})
    assert _sig(log.path) == base_before
    fresh = SnapshotLog(log.table_dir).load()
    assert fresh.schema() == schema
    assert fresh.properties["cursor"] == "7"
    # an unchanged handle's next entry carries its snapshot only
    snap = log.commit("append", _files(0, 1))
    entry = os.path.join(log.entry_dir, _entry_ids(log)[snap.snapshot_id])
    assert set(json.loads(_text(entry))) == {"snapshot"}


def test_rewrite_drops_entries_above_its_head(tmp_path):
    """Re-creating a log in place (a dropped branch re-forked, a table
    re-created under a catalog) must not pick up the old log's entries."""
    log = _new_log(tmp_path)
    for i in range(5):
        log.commit("append", _files(i, 1))
    again = _new_log(tmp_path)
    assert [s.snapshot_id for s in SnapshotLog(again.table_dir).load().snapshots] == [1]
    assert again.commit("append", _files(9, 1)).snapshot_id == 2


def test_commit_lock_released_when_holder_dies(tmp_path):
    """A writer SIGKILLed while holding the lock must not block the next
    commit: the kernel drops its flock with its descriptors."""
    log = _new_log(tmp_path)
    code = (
        f"import os, signal, sys; sys.path.insert(0, {REPO!r})\n"
        "from pyiceberg_lakehouse_spark.lakehouse.log import _commit_lock\n"
        f"with _commit_lock({log.table_dir!r}):\n"
        "    os.kill(os.getpid(), signal.SIGKILL)\n"
    )
    child = subprocess.run([sys.executable, "-c", code], capture_output=True, timeout=60)
    assert child.returncode == -signal.SIGKILL, child.stderr
    t0 = time.monotonic()
    snap = log.commit("append", _files(0, 1))
    assert time.monotonic() - t0 < 1.0
    assert SnapshotLog(log.table_dir).load().current_snapshot_id() == snap.snapshot_id


def test_commit_lock_excludes_threads(tmp_path):
    table_dir = str(tmp_path)
    outcome = []

    def contend():
        try:
            with _commit_lock(table_dir, timeout_s=0.2):
                outcome.append("acquired")
        except TimeoutError:
            outcome.append("timeout")

    with _commit_lock(table_dir):
        t = threading.Thread(target=contend)
        t.start()
        t.join()
    contend()
    assert outcome == ["timeout", "acquired"]


def test_load_racing_a_fold_starts_over(tmp_path, monkeypatch):
    """A reader that opened the base just before a fold replaced it meets
    the fold's empty head marker where it expected an entry, and must read
    again from the new base."""
    log = _new_log(tmp_path)
    log.commit("append", _files(0, 30))  # one entry as large as the base
    assert log._fold_due()
    want = [1, 2, 3]
    real_decode = log_mod.decode_log
    raced = []

    def decode_then_fold(raw, path):
        text = real_decode(raw, path)
        if not raced:  # the reader holds the old base; now the fold lands
            raced.append(True)
            log.commit("append", _files(1, 1))
        return text

    monkeypatch.setattr(log_mod, "decode_log", decode_then_fold)
    reader = SnapshotLog(log.table_dir).load()
    assert raced and [s.snapshot_id for s in reader.snapshots] == want
