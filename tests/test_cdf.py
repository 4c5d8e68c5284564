"""Commit-time change-data files (Delta-CDF-style change feed).

With table property ``change-data-feed=true``, copy-on-write mutations
(delete_where / update_where / MERGE INTO) persist their row-level delta
under ``_change_data/`` at commit; compaction and z-order commit
data-change=false. ``table_changes`` then plans the feed from delta files
alone (never diffing table states), and the streaming source can emit the
feed incrementally. These tests pin:

- feed == state diff for every mutation kind (the semantics contract);
- the fast path physically never reopens table data files for a
  rewrite-only interval;
- compaction is invisible to both batch and streaming consumers;
- insert-then-delete inside one interval nets out (cancellation);
- DELETE WHERE NULL-predicate rows are kept (SQL semantics) and absent
  from the feed.
"""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pyiceberg_lakehouse_spark.lakehouse import Lakehouse
from pyiceberg_lakehouse_spark.lakehouse.maintenance import cluster_zorder, compact
from pyiceberg_lakehouse_spark.lakehouse.upsert import (
    merge_into,
    merge_into_partitioned,
)

SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType()),
        T.StructField("p", T.StringType()),
        T.StructField("v", T.DoubleType()),
    ]
)


def _rows(spark, n, start=0):
    return spark.range(start, start + n).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).cast("string").alias("p"),
        (F.col("id") * 1.5).alias("v"),
    )


def _cdf_table(spark, warehouse, name="ns.cdf", partitioned=True, n=30):
    lh = Lakehouse(spark, warehouse)
    t = lh.create_table(
        name,
        SCHEMA,
        partition_by=["p"] if partitioned else [],
        properties={"change-data-feed": "true"},
    )
    t.append(_rows(spark, n))
    return t


def _assert_feed_equals_diff(t, cursor):
    feed = t.table_changes(cursor)
    before, after = t.read_snapshot(cursor), t.scan()
    ins = after.exceptAll(before)
    dels = before.exceptAll(after)
    fi = feed.filter("_change_type='insert'").drop("_change_type")
    fd = feed.filter("_change_type='delete'").drop("_change_type")
    assert fi.exceptAll(ins).unionAll(ins.exceptAll(fi)).count() == 0
    assert fd.exceptAll(dels).unionAll(dels.exceptAll(fd)).count() == 0
    return feed


def test_delete_where_writes_change_files_and_feed_matches_diff(spark, warehouse):
    t = _cdf_table(spark, warehouse)
    cursor = t.log.current_snapshot_id()
    t.delete_where(F.col("k") % 5 == 0)
    head = t.log.snapshots[-1]
    assert head.summary.get("change-data-files"), "no change files recorded"
    assert t._plan_changes(cursor, head.snapshot_id) is not None
    feed = _assert_feed_equals_diff(t, cursor)
    assert feed.filter("_change_type='insert'").count() == 0
    assert feed.filter("_change_type='delete'").count() == 6


def test_update_where_emits_pairs_and_noop_assignments_emit_nothing(spark, warehouse):
    t = _cdf_table(spark, warehouse)
    cursor = t.log.current_snapshot_id()
    # k % 10 == 0 rows get +100; k % 10 == 5 rows are assigned their OWN
    # value (a no-op) — they must not appear in the feed
    t.update_where(
        (F.col("k") % 5 == 0),
        {"v": F.when(F.col("k") % 10 == 0, F.col("v") + 100.0).otherwise(F.col("v"))},
    )
    feed = _assert_feed_equals_diff(t, cursor)
    assert feed.filter("_change_type='delete'").count() == 3  # k=0,10,20
    assert feed.filter("_change_type='insert'").count() == 3


def test_merge_into_partitioned_feed_matches_diff(spark, warehouse):
    t = _cdf_table(spark, warehouse)
    cursor = t.log.current_snapshot_id()
    src = spark.createDataFrame(
        [(3, "0", 999.0), (6, "0", 9.0), (100, "1", 7.0), (4, "1", 6.0)],
        SCHEMA,
    )
    merge_into_partitioned(
        t, src, ["k"], matched_delete=F.col("_src_v") < 8.0
    )
    assert t.log.snapshots[-1].summary.get("change-data-files")
    _assert_feed_equals_diff(t, cursor)


def test_merge_into_full_table_feed_matches_diff(spark, warehouse):
    t = _cdf_table(spark, warehouse, partitioned=False, n=20)
    cursor = t.log.current_snapshot_id()
    src = spark.createDataFrame([(1, "x", 5.0), (50, "y", 2.0)], SCHEMA)
    merge_into(t, src, ["k"])
    assert t.log.snapshots[-1].operation == "overwrite"
    assert t.log.snapshots[-1].summary.get("change-data-files")
    _assert_feed_equals_diff(t, cursor)


def test_rewrite_only_interval_never_reopens_table_data_files(spark, warehouse):
    """Physical proof of metadata planning: for an interval containing only
    a CoW delete, the feed reads change files alone — removing every table
    data file from disk does not break it (the diff fallback would die)."""
    t = _cdf_table(spark, warehouse)
    cursor = t.log.current_snapshot_id()
    t.delete_where(F.col("k") < 10)
    for p in glob.glob(os.path.join(t.table_dir, "data", "**", "*.parquet"), recursive=True):
        os.remove(p)
    feed = t.table_changes(cursor)
    assert feed.count() == 10
    assert feed.filter("_change_type='delete'").count() == 10


def test_compaction_and_zorder_are_invisible_to_the_feed(spark, warehouse):
    t = _cdf_table(spark, warehouse)
    cursor = t.log.current_snapshot_id()
    t.append(_rows(spark, 5, start=100))
    compact(t)
    cluster_zorder(t, ["k"])
    assert all(
        s.summary.get("data-change") is False
        for s in t.log.snapshots[-2:]
    )
    feed = t.table_changes(cursor)
    assert feed.filter("_change_type='delete'").count() == 0
    assert feed.filter("_change_type='insert'").count() == 5
    # incremental read skips the reorganization commits too
    assert t.read_incremental(cursor).count() == 5


def test_insert_then_delete_in_one_interval_nets_out(spark, warehouse):
    t = _cdf_table(spark, warehouse, n=10)
    cursor = t.log.current_snapshot_id()
    t.append(_rows(spark, 5, start=50))  # k = 50..54
    t.delete_where(F.col("k") >= 52)  # removes 52..54 inserted this interval
    feed = _assert_feed_equals_diff(t, cursor)
    ins = {r.k for r in feed.filter("_change_type='insert'").collect()}
    assert ins == {50, 51}
    assert feed.filter("_change_type='delete'").count() == 0


def test_delete_where_null_predicate_keeps_rows_and_feed_omits_them(spark, warehouse):
    lh = Lakehouse(spark, str(warehouse) + "2")
    t = lh.create_table(
        "ns.nulls", SCHEMA, properties={"change-data-feed": "true"}
    )
    t.append(
        spark.createDataFrame(
            [(1, "a", 1.0), (2, None, 2.0), (3, "b", 3.0)], SCHEMA
        )
    )
    cursor = t.log.current_snapshot_id()
    # predicate is NULL for the p IS NULL row: SQL DELETE keeps it
    t.delete_where(F.col("p") < "b")
    keys = {r.k for r in t.scan().collect()}
    assert keys == {2, 3}
    feed = t.table_changes(cursor)
    assert {r.k for r in feed.collect()} == {1}


def test_set_properties_enables_cdf_on_existing_table(spark, warehouse):
    lh = Lakehouse(spark, warehouse)
    t = lh.create_table("ns.late", SCHEMA)
    t.append(_rows(spark, 10))
    assert not t.cdf_enabled
    t.set_properties({"change-data-feed": "true"})
    assert t.cdf_enabled
    cursor = t.log.current_snapshot_id()
    t.delete_where(F.col("k") == 0)
    assert t.log.snapshots[-1].summary.get("change-data-files")
    assert t.table_changes(cursor).count() == 1


def test_streaming_change_feed_end_to_end(spark, warehouse):
    from pyiceberg_lakehouse_spark.sources.datasource import (
        register_lakehouse_source,
    )

    register_lakehouse_source(spark)
    t = _cdf_table(spark, warehouse, n=12)
    t.delete_where(F.col("k") % 4 == 0)
    compact(t)
    t.append(_rows(spark, 3, start=12))
    feed = (
        spark.readStream.format("lakehouse")
        .option("change_feed", "true")
        .load(t.table_dir)
    )
    q = (
        feed.writeStream.format("memory")
        .queryName("cdf_feed_mem")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = {
        r._change_type: (r.n, r.sk)
        for r in spark.sql(
            "select _change_type, count(*) n, sum(k) sk from cdf_feed_mem "
            "group by _change_type"
        ).collect()
    }
    assert out["insert"] == (15, sum(range(15)))
    assert out["delete"] == (3, 0 + 4 + 8)


def test_streaming_feed_raises_on_rewrite_without_change_files(spark, warehouse):
    from pyiceberg_lakehouse_spark.sources.datasource import (
        LakehouseStreamReader,
    )

    lh = Lakehouse(spark, warehouse)
    t = lh.create_table("ns.nocdf", SCHEMA)  # CDF off
    t.append(_rows(spark, 10))
    t.delete_where(F.col("k") == 0)
    reader = LakehouseStreamReader({"path": t.table_dir, "change_feed": "true"})
    with pytest.raises(ValueError, match="change-data"):
        reader.partitions(
            {"snapshot_id": 0},
            {"snapshot_id": t.log.current_snapshot_id()},
        )


def _change_files_on_disk(t):
    return set(glob.glob(os.path.join(t.table_dir, "_change_data", "**", "*.parquet"), recursive=True))


def test_expire_unlinks_change_files_only_dropped_snapshots_name(spark, warehouse):
    from pyiceberg_lakehouse_spark.lakehouse.maintenance import expire_snapshots

    t = _cdf_table(spark, warehouse, partitioned=False)
    t.delete_where(F.col("k") == 0)
    dropped = {f["path"] for f in t.log.snapshots[-1].summary["change-data-files"]}
    t.delete_where(F.col("k") == 1)
    kept = {f["path"] for f in t.log.snapshots[-1].summary["change-data-files"]}
    assert dropped and kept and _change_files_on_disk(t) == dropped | kept
    removed = set(expire_snapshots(t, keep_last=1))
    assert dropped <= removed and not kept & removed
    assert _change_files_on_disk(t) == kept
    assert t.scan().count() == 28


def test_remove_orphan_files_sweeps_unreferenced_change_files(spark, warehouse):
    from pyiceberg_lakehouse_spark.lakehouse.maintenance import remove_orphan_files

    t = _cdf_table(spark, warehouse, partitioned=False)
    t.delete_where(F.col("k") == 0)
    kept = _change_files_on_disk(t)
    assert kept
    # a CDF commit that crashed after writing its change files
    crashed = os.path.join(t.table_dir, "_change_data", "commit-9-crashed")
    _rows(spark, 3).withColumn("_change_type", F.lit("delete")).write.parquet(crashed)
    deleted = remove_orphan_files(t, older_than_s=0.0)
    assert deleted and all("commit-9-crashed" in p for p in deleted)
    assert _change_files_on_disk(t) == kept
