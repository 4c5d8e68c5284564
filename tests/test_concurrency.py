"""Two-PROCESS optimistic concurrency (VERDICT r5 task #5).

The snapshot log's commit protocol is pure file I/O (flock lock +
optimistic head check + rebase-retry for commutative ops), so it must hold
across real OS processes, not just threads sharing a GIL. Workers here run
in subprocesses with no Spark: they commit fabricated append entries
through ``SnapshotLog.commit`` exactly as a second driver on another
machine sharing the warehouse would.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

import pytest

from pyiceberg_lakehouse_spark.lakehouse import Lakehouse
from pyiceberg_lakehouse_spark.lakehouse.log import SnapshotLog

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_WORKER = """
import os, sys, time
sys.path.insert(0, {repo!r})
from pyiceberg_lakehouse_spark.lakehouse.log import SnapshotLog

table_dir, wid, n = sys.argv[1], sys.argv[2], int(sys.argv[3])
go = os.path.join(table_dir, "_go")
deadline = time.time() + 30
while not os.path.exists(go):
    if time.time() > deadline:
        raise SystemExit("barrier never released")
    time.sleep(0.002)
log = SnapshotLog(table_dir).load()
for i in range(n):
    log.commit(
        "append",
        [{{"path": f"/fake/{{wid}}_{{i}}.parquet", "partition": {{}}, "rows": 1}}],
        summary={{"writer": wid, "i": i}},
        retry_conflicts=100,
    )
print("done", wid)
"""


def _schema():
    from pyspark.sql import types as T

    return T.StructType([T.StructField("id", T.LongType())])


def test_two_process_appends_all_commit(spark, warehouse):
    lh = Lakehouse(spark, warehouse)
    t = lh.create_table("ns.mp_appends", _schema())
    n_per = 10
    workers = [
        subprocess.Popen(
            [sys.executable, "-c", _WORKER.format(repo=REPO), t.table_dir, wid, str(n_per)],
            stdout=subprocess.PIPE,
            stderr=subprocess.PIPE,
            text=True,
        )
        for wid in ("a", "b")
    ]
    time.sleep(0.3)  # both workers reach the barrier before it opens
    with open(os.path.join(t.table_dir, "_go"), "w") as fh:
        fh.write("go")
    for w in workers:
        out, err = w.communicate(timeout=60)
        assert w.returncode == 0, f"worker failed: {err}\n{out}"

    log = SnapshotLog(t.table_dir).load()
    appends = [s for s in log.snapshots if s.operation == "append"]
    # every commit from both processes landed as its own snapshot
    assert len(appends) == 2 * n_per
    by_writer = {"a": 0, "b": 0}
    for s in appends:
        by_writer[s.summary["writer"]] += 1
    assert by_writer == {"a": n_per, "b": n_per}
    # snapshot ids are a gapless monotonic chain (no lost updates)
    ids = [s.snapshot_id for s in log.snapshots]
    assert ids == sorted(ids) and len(set(ids)) == len(ids)
    paths = {f["path"] for f in log.live_files()}
    assert len(paths) == 2 * n_per


def test_process_overwrite_conflict_still_errors(spark, warehouse):
    """Rebase-retry is for commutative ops only: an overwrite planned
    against a stale snapshot must error even from another process."""
    lh = Lakehouse(spark, warehouse)
    t = lh.create_table("ns.mp_overwrite", _schema())

    stale = SnapshotLog(t.table_dir).load()  # snapshot view before the append
    spark_df = spark.range(3).toDF("id")
    t.append(spark_df)

    code = (
        f"import sys; sys.path.insert(0, {REPO!r})\n"
        "import json\n"
        "from pyiceberg_lakehouse_spark.lakehouse.log import SnapshotLog\n"
        f"log = SnapshotLog({t.table_dir!r}).load()\n"
        f"log.snapshots = log.snapshots[:{len(stale.snapshots)}]\n"  # stale view
        "try:\n"
        "    log.commit('overwrite', [{'path': '/fake/ow.parquet', 'partition': {}, 'rows': 1}], retry_conflicts=5)\n"
        "except RuntimeError as e:\n"
        "    assert 'concurrent commit' in str(e), e\n"
        "    print('conflict-detected')\n"
        "else:\n"
        "    raise SystemExit('stale overwrite was allowed to commit')\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, timeout=60
    )
    assert out.returncode == 0, out.stderr
    assert "conflict-detected" in out.stdout
    # table state unchanged by the failed overwrite
    assert t.scan().count() == 3


_REPLACE_WORKER = """
import os, sys, time
sys.path.insert(0, {repo!r})
from pyiceberg_lakehouse_spark.lakehouse.log import SnapshotLog

table_dir, part = sys.argv[1], sys.argv[2]
go = os.path.join(table_dir, "_go")
deadline = time.time() + 30
while not os.path.exists(go):
    if time.time() > deadline:
        raise SystemExit("barrier never released")
    time.sleep(0.002)
log = SnapshotLog(table_dir).load()
removed = [f["path"] for f in log.live_files() if f["partition"].get("p") == part]
log.commit(
    "replace",
    [{{"path": f"/fake/new_{{part}}.parquet", "partition": {{"p": part}}, "rows": 1}}],
    removed_paths=removed,
    summary={{"partitions": [{{"p": part}}]}},
    retry_conflicts=10,
    touched_partitions=[{{"p": part}}],
)
print("done", part)
"""


def test_two_process_disjoint_partition_replaces_both_commit(spark, warehouse):
    """Partition-scoped conflict detection: two processes replacing
    DISJOINT partitions of the same table must both land (one rebases over
    the other instead of failing) — the concurrent hourly-partition
    writer story. The final live set carries exactly each writer's new
    file for its partition and neither writer clobbered the other."""
    lh = Lakehouse(spark, warehouse)
    t = lh.create_table("ns.mp_replace", _schema())
    log = SnapshotLog(t.table_dir).load()
    for part in ("a", "b"):
        log.commit(
            "append",
            [{"path": f"/fake/base_{part}.parquet", "partition": {"p": part}, "rows": 1}],
        )

    workers = [
        subprocess.Popen(
            [sys.executable, "-c", _REPLACE_WORKER.format(repo=REPO), t.table_dir, part],
            stdout=subprocess.PIPE,
            stderr=subprocess.PIPE,
            text=True,
        )
        for part in ("a", "b")
    ]
    time.sleep(0.3)
    with open(os.path.join(t.table_dir, "_go"), "w") as fh:
        fh.write("go")
    for w in workers:
        out, err = w.communicate(timeout=60)
        assert w.returncode == 0, f"worker failed: {err}\n{out}"

    final = SnapshotLog(t.table_dir).load()
    paths = {f["path"] for f in final.live_files()}
    assert paths == {"/fake/new_a.parquet", "/fake/new_b.parquet"}
    assert [s.operation for s in final.snapshots].count("replace") == 2


def test_partition_replace_overlap_still_conflicts(spark, warehouse):
    """A stale replace must STILL error when the interleaved winner
    touched one of its partitions — whether by adding a file into it or
    by removing one of its files — and must rebase cleanly when the
    winner's work was entirely elsewhere."""
    lh = Lakehouse(spark, warehouse)
    t = lh.create_table("ns.mp_replace_overlap", _schema())
    log = SnapshotLog(t.table_dir).load()
    for part in ("a", "b"):
        log.commit(
            "append",
            [{"path": f"/fake/base_{part}.parquet", "partition": {"p": part}, "rows": 1}],
        )

    def stale_handle():
        h = SnapshotLog(t.table_dir).load()
        return h

    def try_replace(handle, part):
        return handle.commit(
            "replace",
            [{"path": f"/fake/r_{part}_{handle.current_snapshot_id()}.parquet",
              "partition": {"p": part}, "rows": 1}],
            removed_paths=[f"/fake/base_{part}.parquet"],
            retry_conflicts=5,
            touched_partitions=[{"p": part}],
        )

    # winner appends INTO partition a -> stale replace of a conflicts
    stale = stale_handle()
    SnapshotLog(t.table_dir).load().commit(
        "append", [{"path": "/fake/win1.parquet", "partition": {"p": "a"}, "rows": 1}]
    )
    with pytest.raises(RuntimeError, match="concurrent commit"):
        try_replace(stale, "a")
    # ...but the same stale handle may still replace b (winner untouched it)
    try_replace(stale, "b")

    # winner REMOVES a file of partition a -> stale replace of a conflicts
    stale2 = stale_handle()
    SnapshotLog(t.table_dir).load().commit(
        "replace",
        [{"path": "/fake/win2.parquet", "partition": {"p": "a"}, "rows": 1}],
        removed_paths=["/fake/win1.parquet"],
    )
    with pytest.raises(RuntimeError, match="concurrent commit"):
        try_replace(stale2, "a")

    # without touched_partitions the old always-conflict behavior holds
    stale3 = stale_handle()
    SnapshotLog(t.table_dir).load().commit(
        "append", [{"path": "/fake/elsewhere.parquet", "partition": {"p": "z"}, "rows": 1}]
    )
    with pytest.raises(RuntimeError, match="concurrent commit"):
        stale3.commit(
            "replace",
            [{"path": "/fake/r_plain.parquet", "partition": {"p": "b"}, "rows": 1}],
            removed_paths=[],
            retry_conflicts=5,
        )
