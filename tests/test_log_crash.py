"""Crash harness for the snapshot log, no Spark.

A child process drives ``SnapshotLog`` and dies with ``os._exit`` at a
named point of a commit, a fold or a whole-log rewrite. Afterwards the log
must load, its head must be the old or the new snapshot, its snapshot ids
must be contiguous with no duplicates, and the next commit must get
head + 1.
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest
from pyspark.sql import types as T

from pyiceberg_lakehouse_spark.lakehouse.log import SnapshotLog

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DIED = 86

# The child patches os.replace / os.unlink to die around the call named by
# ``point``: "<before|after>-<base|entry|head>-replace" or
# "after-first-unlink". "entry" is the new snapshot's entry, "head" the
# empty marker a whole-log rewrite leaves under the head id.
_CHILD = """
import os, sys
sys.path.insert(0, {repo!r})
from pyiceberg_lakehouse_spark.lakehouse.log import SnapshotLog

table_dir, action, point = sys.argv[1:4]
log = SnapshotLog(table_dir).load()
new_entry = os.path.join(log.entry_dir, log._entry_name(log.current_snapshot_id() + 1))
real_replace, real_unlink = os.replace, os.unlink


def replace(src, dst):
    kind = "base" if dst == log.path else "entry" if dst == new_entry else "head"
    if point == f"before-{{kind}}-replace":
        os._exit({died})
    real_replace(src, dst)
    if point == f"after-{{kind}}-replace":
        os._exit({died})


def unlink(path):
    real_unlink(path)
    if point == "after-first-unlink":
        os._exit({died})


os.replace, os.unlink = replace, unlink
if action in ("commit", "fold"):
    log.commit("append", [{{"path": "/fake/crash.parquet", "partition": {{}}, "rows": 1}}])
elif action == "set_properties":
    log.set_properties({{"crashed": "yes"}})
elif action == "expire":
    log.snapshots = log.snapshots[len(log.snapshots) // 2 :]
    log._write()
"""

FAULTS = [
    ("commit", "before-entry-replace"),  # entry temp written, not published
    ("commit", "after-entry-replace"),
    ("fold", "after-base-replace"),  # base replaced, covered entries remain
    ("fold", "after-head-replace"),
    ("fold", "after-first-unlink"),  # cleanup half done
    ("fold", "before-entry-replace"),  # fold done, entry not published
    ("set_properties", "before-base-replace"),
    ("set_properties", "after-base-replace"),
    ("expire", "before-base-replace"),
    ("expire", "after-base-replace"),
    ("expire", "after-first-unlink"),
]


def _build(table_dir: str, fold_due: bool) -> SnapshotLog:
    """A log of at least 6 snapshots whose next commit folds iff
    ``fold_due``."""
    log = SnapshotLog(table_dir)
    log.init_table(T.StructType([T.StructField("id", T.LongType())]), [])
    i = 0
    while len(log.snapshots) < 6 or log._fold_due() != fold_due:
        log.commit("append", [{"path": f"/fake/{i}.parquet", "partition": {}, "rows": 1}])
        i += 1
    return log


@pytest.mark.parametrize("action,point", FAULTS, ids=[f"{a}:{p}" for a, p in FAULTS])
def test_log_survives_death(tmp_path, action, point):
    table_dir = str(tmp_path / "t")
    before = _build(table_dir, fold_due=action == "fold")
    old_head = before.current_snapshot_id()
    new_head = old_head + 1 if action in ("commit", "fold") else old_head
    child = subprocess.run(
        [sys.executable, "-c", _CHILD.format(repo=REPO, died=DIED), table_dir, action, point],
        capture_output=True,
        text=True,
        timeout=60,
    )
    assert child.returncode == DIED, f"fault point not reached: {child.stderr}"

    log = SnapshotLog(table_dir).load()
    head = log.current_snapshot_id()
    assert head in (old_head, new_head)
    ids = [s.snapshot_id for s in log.snapshots]
    assert ids == list(range(ids[0], head + 1))
    if action == "expire":
        assert len(ids) in (len(before.snapshots), len(before.snapshots) - len(before.snapshots) // 2)
    else:
        assert ids[0] == 1
    if action == "set_properties":
        assert log.properties in (before.properties, {**before.properties, "crashed": "yes"})
    snap = log.commit("append", [{"path": "/fake/next.parquet", "partition": {}, "rows": 1}])
    assert snap.snapshot_id == head + 1
    again = SnapshotLog(table_dir).load()
    assert [s.snapshot_id for s in again.snapshots] == ids + [head + 1]
    assert again.live_files()[-1]["path"] == "/fake/next.parquet"
