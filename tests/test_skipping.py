"""File-skipping layers: per-file bloom filters (point lookups) and Z-order
clustering (multi-column range predicates), on top of the min/max stats
pruning exercised in test_stats_evolution."""

import pytest
from pyspark.sql import functions as F

from pyiceberg_lakehouse_spark.lakehouse import Lakehouse
from pyiceberg_lakehouse_spark.lakehouse.bloom import prune_files_bloom
from pyiceberg_lakehouse_spark.lakehouse.maintenance import cluster_zorder
from pyiceberg_lakehouse_spark.lakehouse.stats import prune_files
from pyiceberg_lakehouse_spark.sources.testdata import SCHEMAS, load_table


@pytest.fixture()
def bloom_table(spark, warehouse, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    lh = Lakehouse(spark, warehouse)
    t = lh.create_table(
        "ns.orders_bloom",
        SCHEMAS["orders"],
        properties={
            "write.bloom-columns": "o_orderkey",
            "write.target-records-per-file": "400",
        },
    )
    t.append(orders)
    return t, orders


def test_bloom_no_false_negatives(spark, bloom_table):
    """Every planted key must survive pruning (bloom absence is definite)."""
    t, orders = bloom_table
    files = t.log.live_files()
    assert len(files) > 3, "need multiple files for skipping to mean anything"
    assert all("o_orderkey" in (f.get("bloom") or {}) for f in files)
    for key in (0, 7, 501, 1400):
        kept = prune_files_bloom(spark, files, {"o_orderkey": key})
        got = t.scan(bloom_filter={"o_orderkey": key}).filter(
            F.col("o_orderkey") == key
        )
        expected = orders.filter(F.col("o_orderkey") == key)
        assert got.count() == expected.count() != 0
        assert len(kept) >= 1


def test_bloom_prunes_most_files(spark, bloom_table):
    """A single key lives in one file; blooms should skip nearly all others
    (allowing ~2% false positives)."""
    t, _ = bloom_table
    files = t.log.live_files()
    kept = prune_files_bloom(spark, files, {"o_orderkey": 7})
    assert len(kept) <= max(2, len(files) // 3), (len(kept), len(files))


def test_bloom_absent_key_prunes_everything(spark, bloom_table):
    t, _ = bloom_table
    files = t.log.live_files()
    kept = prune_files_bloom(spark, files, {"o_orderkey": 10_000_000})
    # an absent key may hit a false positive in a file or two, never most
    assert len(kept) <= max(1, len(files) // 4)
    assert t.scan(bloom_filter={"o_orderkey": 10_000_000}).filter(
        F.col("o_orderkey") == 10_000_000
    ).count() == 0


def test_zorder_tightens_both_columns(spark, warehouse, sf_dir):
    """After Z-order clustering, a two-column box predicate prunes files on
    BOTH columns; a linear sort would only prune on its lead column."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity"
    )
    lh = Lakehouse(spark, warehouse)
    t = lh.create_table("ns.li_z", li.schema)
    t.append(li)
    snap = cluster_zorder(t, ["l_partkey", "l_suppkey"], target_file_bytes=4 * 1024)
    assert snap.operation == "replace"
    files = t.log.live_files()
    assert len(files) > 4
    box = {"l_partkey": ("<=", 20), "l_suppkey": ("<=", 3)}
    kept = prune_files(files, box)
    assert len(kept) < len(files), "z-order produced no skippable layout"
    got = t.scan(stat_filter=box).filter(
        (F.col("l_partkey") <= 20) & (F.col("l_suppkey") <= 3)
    )
    expected = li.filter((F.col("l_partkey") <= 20) & (F.col("l_suppkey") <= 3))
    assert got.count() == expected.count() != 0


def test_zorder_preserves_content(spark, warehouse, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"
    )
    lh = Lakehouse(spark, warehouse)
    t = lh.create_table("ns.li_z2", li.schema)
    t.append(li)
    cluster_zorder(t, ["l_partkey", "l_suppkey"], target_file_bytes=32 * 1024)
    assert t.scan().count() == li.count()
    assert t.scan().exceptAll(li).count() == 0
    assert li.exceptAll(t.scan()).count() == 0


def test_sort_order_property_tightens_file_bounds(spark, warehouse, sf_dir):
    """write.sort-order clusters rows at write time, so a range predicate
    skips files immediately — no explicit zorder/compact needed."""
    orders = load_table(spark, sf_dir, "orders")
    lh = Lakehouse(spark, warehouse)
    t = lh.create_table(
        "ns.orders_so",
        SCHEMAS["orders"],
        properties={
            "write.sort-order": "o_totalprice",
            "write.target-records-per-file": "300",
        },
    )
    # single writer partition => one sorted run => near-disjoint file bounds
    t.append(orders.repartition(1))
    files = t.log.live_files()
    assert len(files) > 3
    kept = prune_files(files, {"o_totalprice": ("<", 50000.0)})
    assert len(kept) < len(files) / 2, (len(kept), len(files))
    got = t.scan(stat_filter={"o_totalprice": ("<", 50000.0)}).filter(
        F.col("o_totalprice") < 50000.0
    )
    assert got.count() == orders.filter(F.col("o_totalprice") < 50000.0).count()


def test_zorder_three_columns(spark, warehouse, sf_dir):
    """Morton interleave generalizes past 2 dims: a 3-column box predicate
    prunes files after clustering on all three."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity"
    )
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_quantity", T.DoubleType()),
        ]
    )
    lh = Lakehouse(spark, warehouse)
    t = lh.create_table(
        "ns.li_z3", schema, properties={"write.target-records-per-file": "500"}
    )
    t.append(li)
    cluster_zorder(
        t, ["l_orderkey", "l_partkey", "l_suppkey"], bits=10, target_file_bytes=12_000
    )
    files = t.log.live_files()
    assert len(files) >= 4
    box = {
        "l_orderkey": [(">=", 0), ("<", 1500)],
        "l_partkey": [(">=", 0), ("<", 100)],
        "l_suppkey": [(">=", 0), ("<", 5)],
    }
    kept = prune_files(files, box)
    assert len(kept) < len(files), (len(kept), len(files))
    got = t.scan(stat_filter=box).filter(
        (F.col("l_orderkey") < 1500) & (F.col("l_partkey") < 100) & (F.col("l_suppkey") < 5)
    )
    exp = li.filter(
        (F.col("l_orderkey") < 1500) & (F.col("l_partkey") < 100) & (F.col("l_suppkey") < 5)
    )
    assert got.count() == exp.count()


def test_zorder_distribution_mode_on_append(spark, warehouse, sf_dir):
    """write.distribution-mode=zorder clusters every append on the Morton
    key — a 2-column box predicate prunes freshly written files with no
    rewrite step."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_quantity", T.DoubleType()),
        ]
    )
    lh = Lakehouse(spark, warehouse)
    t = lh.create_table(
        "ns.li_zw",
        schema,
        properties={
            "write.distribution-mode": "zorder",
            "write.zorder-columns": "l_orderkey,l_partkey",
            "write.target-records-per-file": "500",
        },
    )
    t.append(li.repartition(8))
    files = t.log.live_files()
    assert len(files) >= 4
    box = {
        "l_orderkey": [(">=", 0), ("<", 1500)],
        "l_partkey": [(">=", 0), ("<", 100)],
    }
    kept = prune_files(files, box)
    assert len(kept) < len(files), (len(kept), len(files))
    got = t.scan(stat_filter=box).filter(
        (F.col("l_orderkey") < 1500) & (F.col("l_partkey") < 100)
    )
    exp = li.filter((F.col("l_orderkey") < 1500) & (F.col("l_partkey") < 100))
    assert got.count() == exp.count()
    s = t.stats()
    assert s["files"] == len(files) and s["rows"] == li.count()
    assert s["snapshots"] == 2 and s["equality_deletes"] == 0


def test_prune_files_uses_partition_values_for_equality():
    """Identity-partitioned files carry no in-file stats for the partition
    column, but the partition VALUE is an exact stat: equality and IN
    predicates prune on it; range ops stay conservative (hive-encoded
    strings would order lexicographically) and keep the file."""
    files = [
        {"path": "/a", "partition": {"p": "x", "d": "10"}, "stats": {}},
        {"path": "/b", "partition": {"p": "y", "d": "9"}, "stats": {}},
        {"path": "/c", "partition": {}, "stats": {}},
    ]
    got = {f["path"] for f in prune_files(files, {"p": ("=", "x")})}
    assert got == {"/a", "/c"}  # no partition value -> conservative keep
    got = {f["path"] for f in prune_files(files, {"p": ("in", ["y", "z"])})}
    assert got == {"/b", "/c"}
    # numeric-looking strings: equality still exact, ranges conservative
    got = {f["path"] for f in prune_files(files, {"d": ("=", 9)})}
    assert got == {"/b", "/c"}
    got = {f["path"] for f in prune_files(files, {"d": ("<", "5")})}
    assert got == {"/a", "/b", "/c"}


@pytest.fixture()
def mixed_bloom_table(spark, warehouse, sf_dir):
    """One 4-row file and one 1,011-row file, each with an o_orderkey bloom."""
    orders = load_table(spark, sf_dir, "orders")
    t = Lakehouse(spark, warehouse).create_table(
        "ns.orders_bloom_mixed",
        SCHEMAS["orders"],
        properties={"write.bloom-columns": "o_orderkey"},
    )
    t.append(orders.filter(F.col("o_orderkey") < 4))
    t.append(orders.filter(F.col("o_orderkey") >= 4).limit(1011))
    files = sorted(t.log.live_files(), key=lambda f: f["rows"])
    assert [f["rows"] for f in files] == [4, 1011]
    return files


def test_bloom_bits_sized_to_file_rows(mixed_bloom_table):
    """m is the smallest power of two >= 8 bits per row, floored at 64 and
    capped by write.bloom-bits (default 8192)."""
    assert [f["bloom"]["o_orderkey"]["m"] for f in mixed_bloom_table] == [64, 8192]


def _jobs_run(spark, fn):
    """fn's result and the number of Spark jobs it ran."""
    import uuid

    sc = spark.sparkContext
    group = f"bloom-probe-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        result = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return result, len(sc.statusTracker().getJobIdsForGroup(group))


def test_bloom_probe_mixed_sizes_one_job(spark, mixed_bloom_table):
    """Files with different m probe in ONE Spark job, and every file that
    holds a probed key is kept."""
    from pyiceberg_lakehouse_spark.lakehouse.bloom import prune_files_bloom_any

    files = mixed_bloom_table
    keys = [
        spark.read.parquet(f["path"]).first()["o_orderkey"] for f in files
    ]
    for key, f in zip(keys, files):
        kept, jobs = _jobs_run(
            spark, lambda: prune_files_bloom(spark, files, {"o_orderkey": key})
        )
        assert jobs == 1
        assert f in kept
    kept, jobs = _jobs_run(
        spark, lambda: prune_files_bloom_any(spark, files, "o_orderkey", keys)
    )
    assert jobs == 1
    assert kept == files
