"""``apply_changes`` as one merge-on-read commit, NULL-safe equality
deletes, and the Iceberg operation each kind of commit exports as."""

from __future__ import annotations

import json
import re

from pyspark.sql import functions as F
from pyspark.sql import types as T

from pyiceberg_lakehouse_spark.lakehouse import Lakehouse
from pyiceberg_lakehouse_spark.lakehouse import iceberg_interop as I
from pyiceberg_lakehouse_spark.lakehouse.iceberg_export import (
    export_iceberg_table,
)
from pyiceberg_lakehouse_spark.lakehouse.maintenance import compact
from pyiceberg_lakehouse_spark.lakehouse.upsert import (
    apply_changes,
    upsert,
    upsert_partitioned,
)

SCHEMA = T.StructType(
    [
        T.StructField("k", T.IntegerType()),
        T.StructField("p", T.StringType()),
        T.StructField("v", T.StringType()),
    ]
)
CHANGE_DDL = "k int, p string, v string, _op string"


def _table(spark, warehouse, name, rows, partition_by=None):
    t = Lakehouse(spark, warehouse).create_table(
        f"ns.{name}", SCHEMA, partition_by=partition_by
    )
    t.append(spark.createDataFrame(rows, SCHEMA))
    return t


def _rows(df):
    return sorted(
        (tuple(r) for r in df.select("k", "p", "v").collect()),
        key=lambda r: (r[0] is not None, r),
    )


def test_mixed_batch_is_one_snapshot_of_rows_and_keys(spark, warehouse):
    t = _table(
        spark, warehouse, "cdc_one",
        [(i, "ab"[i % 2], f"v{i}") for i in range(10)], partition_by=["p"],
    )
    before = len(t.log.snapshots)
    changes = spark.createDataFrame(
        [
            (1, "b", "new1", "upsert"),
            (2, "a", "new2", "upsert"),
            (42, "a", "new42", "upsert"),
            (3, None, None, "delete"),
            (4, None, None, "delete"),
            # no order column: a key both upserted and deleted ends deleted
            (5, "b", "new5", "upsert"),
            (5, None, None, "delete"),
        ],
        CHANGE_DDL,
    )
    snaps = apply_changes(t, changes, key_cols=["k"])
    assert len(snaps) == 1 and len(t.log.snapshots) == before + 1
    snap = snaps[0]
    assert snap.operation == "delete" and snap.removed_paths == []
    assert _rows(t._read_files(snap.added_files)) == [
        (1, "b", "new1"), (2, "a", "new2"), (42, "a", "new42"),
    ]
    assert len(snap.added_deletes) == 1
    keys = spark.read.parquet(snap.added_deletes[0]["path"])
    assert sorted(r.k for r in keys.collect()) == [1, 2, 3, 4, 5, 42]
    assert _rows(t.scan()) == sorted(
        [(0, "a", "v0"), (1, "b", "new1"), (2, "a", "new2"),
         (6, "a", "v6"), (7, "b", "v7"), (8, "a", "v8"), (9, "b", "v9"),
         (42, "a", "new42")]
    )


def test_unpartitioned_batch_rewrites_no_file(spark, warehouse):
    t = _table(spark, warehouse, "cdc_flat", [(i, "a", f"v{i}") for i in range(20)])
    t.append(spark.createDataFrame([(i, "b", f"v{i}") for i in range(20, 30)], SCHEMA))
    before = {f["path"] for f in t.log.live_files()}
    changes = spark.createDataFrame(
        [(3, "a", "x", "upsert"), (25, None, None, "delete")], CHANGE_DDL
    )
    apply_changes(t, changes, key_cols=["k"])
    assert before <= {f["path"] for f in t.log.live_files()}
    got = dict((k, v) for k, _p, v in _rows(t.scan()))
    assert got[3] == "x" and 25 not in got and len(got) == 29


def test_key_moving_partition_keeps_one_row(spark, warehouse):
    t = _table(
        spark, warehouse, "cdc_move",
        [(1, "a", "old"), (2, "a", "two"), (3, "b", "three")], partition_by=["p"],
    )
    changes = spark.createDataFrame([(1, "b", "moved", "upsert")], CHANGE_DDL)
    apply_changes(t, changes, key_cols=["k"])
    assert _rows(t.scan().filter(F.col("k") == 1)) == [(1, "b", "moved")]
    assert t.scan().count() == 3


def _plan_reads(t):
    """(data reads, delete reads) the head scan plans; a delete file holds
    the key column only."""
    plan = t.scan()._jdf.queryExecution().executedPlan().toString()
    deletes = len(re.findall(r"ReadSchema: struct<k:int>$", plan, re.M))
    return plan.count("FileScan ") - deletes, deletes


def test_scan_plan_does_not_grow_with_cdc_batches(spark, warehouse):
    """Every batch adds a data file and an equality delete newer than the
    older files, yet the scan plans one delete read, and the data reads of
    a twin table that received the same rows by append: one on an
    unpartitioned table, one per commit directory on a partitioned one
    (``compact()`` folds those). Inputs: ``apply_changes`` batches on an
    unpartitioned table and ``upsert_partitioned`` batches."""

    def cdc(t, b):
        apply_changes(
            t,
            spark.createDataFrame(
                [(b, "a", f"u{b}", "upsert"), (10 + b, None, None, "delete")],
                CHANGE_DDL,
            ),
            key_cols=["k"],
        )

    def upsert(t, b):
        upsert_partitioned(
            t, spark.createDataFrame([(b, "a", f"u{b}")], SCHEMA), ["k"]
        )

    base = [(i, "a", f"v{i}") for i in range(20)]
    for name, write, partition_by, data_reads, gone in (
        ("cdc_plan", cdc, None, (1, 1), range(10, 16)),
        ("up_plan", upsert, ["p"], (2, 7), ()),
    ):
        t = _table(spark, warehouse, name, base, partition_by)
        twin = _table(spark, warehouse, f"{name}_twin", base, partition_by)
        reads = []
        for b in range(6):
            write(t, b)
            twin.append(spark.createDataFrame([(b, "a", f"u{b}")], SCHEMA))
            if b in (0, 5):
                reads.append((_plan_reads(t), _plan_reads(twin)[0]))
        assert reads == [((n, 1), n) for n in data_reads], name
        assert _rows(t.scan()) == sorted(
            [(k, "a", f"u{k}") for k in range(6)]
            + [(k, "a", f"v{k}") for k in range(6, 20) if k not in gone]
        )


def test_null_key_upsert_replaces_the_null_key_row(spark, warehouse):
    t = _table(spark, warehouse, "cdc_null", [(None, "a", "old"), (1, "a", "one")])
    changes = spark.createDataFrame([(None, "a", "new", "upsert")], CHANGE_DDL)
    apply_changes(t, changes, key_cols=["k"])
    assert _rows(t.scan()) == [(None, "a", "new"), (1, "a", "one")]


def test_null_key_delete_matches_iceberg_read_back(spark, warehouse):
    t = _table(
        spark, warehouse, "del_null",
        [(None, "a", "gone"), (1, "a", "one"), (2, "b", "two")], partition_by=["p"],
    )
    t.delete_keys(spark.createDataFrame([(None,)], "k int"), ["k"])
    native = _rows(t.scan())
    assert native == [(1, "a", "one"), (2, "b", "two")]
    assert _rows(I.read_iceberg_table(spark, export_iceberg_table(t))) == native


def test_export_operations_follow_the_spec(spark, warehouse):
    """append -> append; partition-scoped upsert -> overwrite (data
    changed); compact -> replace (data-change false); apply_changes ->
    overwrite (a delete that adds files); delete_keys, a position delete
    and a second delete_keys -> delete; a full-table upsert -> overwrite
    that drops every earlier file. The read-back equals the native
    snapshot read at every snapshot."""
    t = _table(
        spark, warehouse, "exp_ops",
        [(i, "ab"[i % 2], f"v{i}") for i in range(12)], partition_by=["p"],
    )
    upsert_partitioned(
        t, spark.createDataFrame([(0, "a", "u0"), (3, "b", "u3")], SCHEMA), ["k"]
    )
    compact(t)
    apply_changes(
        t,
        spark.createDataFrame(
            [(4, "a", "c4", "upsert"), (5, None, None, "delete")], CHANGE_DDL
        ),
        key_cols=["k"],
    )
    t.delete_keys(spark.createDataFrame([(6,)], "k int"), ["k"])
    # k=4's live row is in the apply_changes file, k=8's in compact's
    t.delete_where_positions(F.col("k").isin(4, 8))
    t.delete_keys(spark.createDataFrame([(9,)], "k int"), ["k"])
    upsert(t, spark.createDataFrame([(7, "b", "w7")], SCHEMA), ["k"])
    mp = export_iceberg_table(t)
    meta = json.load(open(mp))
    ops = {s["snapshot-id"]: s["summary"]["operation"] for s in meta["snapshots"]}
    assert [ops[s.snapshot_id] for s in t.log.snapshots[1:]] == [
        "append", "overwrite", "replace", "overwrite", "delete", "delete",
        "delete", "overwrite",
    ]
    for s in t.log.snapshots:
        assert _rows(
            I.read_iceberg_table(spark, mp, snapshot_id=s.snapshot_id)
        ) == _rows(t.read_snapshot(s.snapshot_id)), s.operation
    assert [k for k, _p, _v in _rows(t.scan())] == [0, 1, 2, 3, 7, 10, 11]
