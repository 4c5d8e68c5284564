"""``upsert_partitioned`` as one merge-on-read commit: the batch's
last-wins rows plus one equality-delete file of their keys, with no table
file read, removed or rewritten."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pyiceberg_lakehouse_spark.lakehouse import Lakehouse
from pyiceberg_lakehouse_spark.lakehouse import iceberg_interop as I
from pyiceberg_lakehouse_spark.lakehouse.iceberg_export import (
    export_iceberg_table,
)
from pyiceberg_lakehouse_spark.lakehouse.table import LakehouseTable
from pyiceberg_lakehouse_spark.lakehouse.upsert import upsert_partitioned
from pyiceberg_lakehouse_spark.sources.datasource import register_lakehouse_source

SCHEMA = T.StructType(
    [
        T.StructField("k", T.IntegerType()),
        T.StructField("p", T.StringType()),
        T.StructField("v", T.StringType()),
    ]
)


def _table(spark, warehouse, name, rows):
    t = Lakehouse(spark, warehouse).create_table(
        f"ns.{name}", SCHEMA, partition_by=["p"]
    )
    t.append(spark.createDataFrame(rows, SCHEMA))
    return t


def _batch(spark, rows, ddl=SCHEMA):
    return spark.createDataFrame(rows, ddl)


def _rows(df):
    return sorted(
        (tuple(r) for r in df.select("k", "p", "v").collect()),
        key=lambda r: (r[0] is not None, r),
    )


def test_snapshot_adds_rows_and_one_delete_file_and_reads_no_table_file(
    spark, warehouse
):
    t = _table(spark, warehouse, "up_snap", [(i, "ab"[i % 2], f"v{i}") for i in range(10)])
    live = [f["path"] for f in t.log.live_files()]
    batch = _batch(spark, [(1, "b", "n1"), (1, "b", "n1"), (42, "a", "n42")])
    # with the table's data files moved away, any read of them would fail
    for p in live:
        os.rename(p, p + ".away")
    try:
        snap = upsert_partitioned(t, batch, ["k"])
    finally:
        for p in live:
            os.rename(p + ".away", p)
    assert snap.operation == "delete" and snap.removed_paths == []
    assert _rows(t._read_files(snap.added_files)) == [(1, "b", "n1"), (42, "a", "n42")]
    assert len(snap.added_deletes) == 1
    keys = spark.read.parquet(snap.added_deletes[0]["path"])
    assert sorted(r.k for r in keys.collect()) == [1, 42]
    assert {f["path"] for f in t.log.live_files()} >= set(live)


def test_key_moving_into_a_partition_only_the_batch_touches_keeps_one_row(
    spark, warehouse
):
    t = _table(spark, warehouse, "up_move", [(1, "a", "x"), (2, "a", "two")])
    upsert_partitioned(t, _batch(spark, [(1, "b", "moved")]), ["k"])
    assert _rows(t.scan()) == [(1, "b", "moved"), (2, "a", "two")]


def test_duplicate_keys_keep_the_highest_order_col(spark, warehouse):
    t = _table(spark, warehouse, "up_dups", [(1, "a", "old"), (2, "b", "two")])
    ddl = "k int, p string, v string, seq int"
    batch = _batch(
        spark,
        [(1, "a", "s1", 1), (1, "a", "s3", 3), (1, "a", "s2", 2), (3, "b", "new", 1)],
        ddl,
    )
    upsert_partitioned(t, batch, ["k"], order_col="seq")
    assert _rows(t.scan()) == [(1, "a", "s3"), (2, "b", "two"), (3, "b", "new")]


def test_null_key_replaces_the_null_key_row(spark, warehouse):
    t = _table(spark, warehouse, "up_null", [(None, "a", "old"), (1, "a", "one")])
    upsert_partitioned(t, _batch(spark, [(None, "a", "new")]), ["k"])
    assert _rows(t.scan()) == [(None, "a", "new"), (1, "a", "one")]


def test_time_travel_before_the_upsert_reads_the_old_rows(spark, warehouse):
    rows = [(i, "ab"[i % 2], f"v{i}") for i in range(6)]
    t = _table(spark, warehouse, "up_tt", rows)
    before = t.current_snapshot_id()
    upsert_partitioned(t, _batch(spark, [(0, "a", "u0"), (3, "b", "u3")]), ["k"])
    assert _rows(t.read_snapshot(before)) == sorted(rows)
    assert _rows(t.scan().filter(F.col("k").isin(0, 3))) == [(0, "a", "u0"), (3, "b", "u3")]


def test_iceberg_read_back_equals_the_head_without_compact(spark, warehouse):
    """The export lists the upsert's equality delete under an unpartitioned
    spec, so an Iceberg reader (which scopes a partitioned-spec delete to
    its partition) hides the older rows in every partition, a moved key's
    included."""
    t = _table(spark, warehouse, "up_ice", [(i, "ab"[i % 2], f"v{i}") for i in range(8)])
    upsert_partitioned(
        t, _batch(spark, [(0, "b", "u0"), (5, "b", "u5"), (9, "a", "n9")]), ["k"]
    )
    assert t.log.live_deletes()
    head = _rows(t.scan())
    assert len(head) == 9 and (0, "b", "u0") in head
    mp = export_iceberg_table(t)
    assert _rows(I.read_iceberg_table(spark, mp)) == head
    deletes = I.iceberg_live_files(mp)["delete_files"]
    assert [(d["spec_id"], d["partition"]) for d in deletes] == [(1, {})]


def test_stale_handle_rebases_onto_a_concurrent_upsert(spark, warehouse):
    """A key-delete commit reads no table state, so a stale handle's upsert
    lands on top of a winner in any partition, and its keys hide the
    winner's rows for them (the last commit wins). A position delete names
    rows of the files it read, so it still raises."""
    t = _table(spark, warehouse, "up_race", [(1, "a", "a1"), (2, "b", "b2")])
    stale = LakehouseTable(spark, t.table_dir)
    upsert_partitioned(t, _batch(spark, [(1, "a", "a1'"), (3, "a", "a3")]), ["k"])
    upsert_partitioned(stale, _batch(spark, [(2, "b", "b2'"), (1, "b", "moved")]), ["k"])
    assert _rows(LakehouseTable(spark, t.table_dir).scan()) == [
        (1, "b", "moved"), (2, "b", "b2'"), (3, "a", "a3"),
    ]
    stale = LakehouseTable(spark, t.table_dir)
    upsert_partitioned(t, _batch(spark, [(3, "a", "a3'")]), ["k"])
    with pytest.raises(RuntimeError, match="concurrent commit"):
        stale.delete_where_positions(F.col("k") == 2)


def test_empty_batch_commits_nothing(spark, warehouse):
    t = _table(spark, warehouse, "up_empty", [(1, "a", "x")])
    head = t.current_snapshot_id()
    assert upsert_partitioned(t, _batch(spark, []), ["k"]) is None
    assert t.current_snapshot_id() == head and not t.log.live_deletes()


def _format_rows(spark, t, **options):
    register_lakehouse_source(spark)
    return spark.read.format("lakehouse").options(**options).load(t.table_dir)


def test_lakehouse_format_applies_the_upsert_keys(spark, warehouse):
    """``format("lakehouse")`` applies equality deletes by the scan's rule:
    at the head, at an older snapshot, and under a pushed filter."""
    rows = [(None, "a", "n"), *[(i, "ab"[i % 2], f"v{i}") for i in range(6)]]
    t = _table(spark, warehouse, "up_fmt", rows)
    before = t.current_snapshot_id()
    upsert_partitioned(
        t, _batch(spark, [(0, "b", "u0"), (None, "b", "nn"), (7, "a", "n7")]), ["k"]
    )
    mid = t.current_snapshot_id()
    t.delete_keys(spark.createDataFrame([(3,), (0,)], "k int"), ["k"])
    head = _rows(t.scan())
    assert len(head) == 6 and (None, "b", "nn") in head
    assert _rows(_format_rows(spark, t)) == head
    for sid in (before, mid):
        assert _rows(_format_rows(spark, t, snapshot_id=str(sid))) == _rows(
            t.read_snapshot(sid)
        )
    assert _rows(_format_rows(spark, t).filter("p = 'a'")) == [
        r for r in head if r[1] == "a"
    ]


def test_lakehouse_format_matches_two_column_keys_null_safely(spark, warehouse):
    rows = [(1, "a", "x"), (None, "a", "y"), (1, "b", "z"), (None, "b", "w")]
    t = _table(spark, warehouse, "up_fmt2", rows)
    t.delete_keys(
        spark.createDataFrame([(None, "a"), (1, "b"), (2, "a")], "k int, p string"),
        ["k", "p"],
    )
    assert _rows(_format_rows(spark, t)) == _rows(t.scan()) == [
        (None, "b", "w"), (1, "a", "x"),
    ]
