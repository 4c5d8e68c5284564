"""Merge-on-read POSITION deletes (the second Iceberg v2 delete-file
form): lifecycle, sequencing, composition with equality deletes, and
the purge gate."""

import pytest
from pyspark.sql import functions as F

from pyiceberg_lakehouse_spark.lakehouse import maintenance as M
from pyiceberg_lakehouse_spark.lakehouse.table import Lakehouse
from pyiceberg_lakehouse_spark.sources.testdata import SCHEMAS, load_table
from pyiceberg_lakehouse_spark.tmpdirs import session_tmpdir

SF = "/root/testdata/sf0.001"


@pytest.fixture
def lh(spark):
    return Lakehouse(spark, session_tmpdir(prefix="posdel_"))


def _batches(spark):
    orders = load_table(spark, SF, "orders")
    return (
        orders.filter(F.col("o_orderkey") % 2 == 0),
        orders.filter(F.col("o_orderkey") % 2 == 1),
    )


def test_position_delete_scan_and_sequencing(spark, lh):
    b1, b2 = _batches(spark)
    t = lh.create_table(
        "ns.o", SCHEMAS["orders"], partition_by=["o_orderstatus"]
    )
    t.append(b1)
    t.delete_where_positions(F.col("o_orderstatus") == "F")
    t.append(b2)  # later F rows stay visible: sequencing
    got = sorted(r.o_orderkey for r in t.scan().select("o_orderkey").collect())
    exp = sorted(
        r.o_orderkey
        for r in b1.filter(F.col("o_orderstatus") != "F")
        .select("o_orderkey")
        .union(b2.select("o_orderkey"))
        .collect()
    )
    assert got == exp


def test_time_travel_resurrects_and_compact_materializes(spark, lh):
    b1, _ = _batches(spark)
    t = lh.create_table("ns.tt", SCHEMAS["orders"])
    t.append(b1)
    t.delete_where_positions(F.col("o_orderstatus") == "F")
    pre = next(
        s.snapshot_id for s in t.history() if s.operation == "append"
    )
    assert t.read_snapshot(pre).count() == b1.count()
    exp = b1.filter(F.col("o_orderstatus") != "F").count()
    assert t.scan().count() == exp
    M.compact(t)
    assert t.scan().count() == exp


def test_mixed_equality_and_position_deletes(spark, lh):
    b1, _ = _batches(spark)
    t = lh.create_table("ns.mx", SCHEMAS["orders"])
    t.append(b1)
    t.delete_keys(
        b1.filter(F.col("o_orderpriority") == "1-URGENT").select(
            "o_orderkey"
        ),
        ["o_orderkey"],
    )
    t.delete_where_positions(F.col("o_orderstatus") == "F")
    exp = b1.filter(
        (F.col("o_orderpriority") != "1-URGENT")
        & (F.col("o_orderstatus") != "F")
    ).count()
    assert t.scan().count() == exp


def test_stats_counts_each_delete_kind(spark, lh):
    b1, _ = _batches(spark)
    t = lh.create_table("ns.st", SCHEMAS["orders"])
    t.append(b1)
    pos = t.delete_where_positions(F.col("o_orderstatus") == "F")
    eq = t.delete_keys(b1.limit(3).select("o_orderkey"), ["o_orderkey"])
    s = t.stats()
    assert s["position_deletes"] == len(pos.added_deletes) >= 1
    assert s["equality_deletes"] == len(eq.added_deletes) >= 1


def test_purge_over_position_deletes_remaps(spark, lh):
    """r17: purge_rows no longer refuses position-delete history — it
    remaps ordinals through an order-preserving rewrite (full coverage
    in tests/test_purge.py); here, pin the composed end state."""
    b1, _ = _batches(spark)
    t = lh.create_table("ns.pg", SCHEMAS["orders"])
    t.append(b1)
    t.delete_where_positions(F.col("o_orderstatus") == "F")
    survivors_before = {
        (r.o_orderkey, r.o_custkey)
        for r in t.scan().select("o_orderkey", "o_custkey").collect()
    }
    out = M.purge_rows(t, F.col("o_custkey") == 1)
    assert out["files_rewritten"] >= 1
    got = {
        (r.o_orderkey, r.o_custkey)
        for r in t.scan().select("o_orderkey", "o_custkey").collect()
    }
    assert got == {r for r in survivors_before if r[1] != 1}


def test_datasource_read_refuses_pending_deletes(spark, lh):
    from pyiceberg_lakehouse_spark.sources.datasource import (
        register_lakehouse_source,
    )

    register_lakehouse_source(spark)
    b1, _ = _batches(spark)
    t = lh.create_table("ns.ds", SCHEMAS["orders"])
    t.append(b1)
    t.delete_where_positions(F.col("o_orderstatus") == "F")
    with pytest.raises(Exception, match="merge-on-read"):
        (
            spark.read.format("lakehouse")
            .option("path", t.table_dir)
            .load()
            .count()
        )


def test_works_without_any_key_column(spark, lh):
    """The point of positions: a keyless table (duplicate rows legal)
    still deletes exactly the matching physical rows."""
    df = spark.createDataFrame(
        [("a", 1)] * 3 + [("b", 2)] * 2, "s string, v int"
    )
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("s", T.StringType()),
            T.StructField("v", T.IntegerType()),
        ]
    )
    t = lh.create_table("ns.nk", schema)
    t.append(df)
    t.delete_where_positions(F.col("s") == "a")
    rows = [(r.s, r.v) for r in t.scan().collect()]
    assert sorted(rows) == [("b", 2), ("b", 2)]


def test_rename_table_rewrites_position_delete_contents(spark, lh):
    """ADVICE r14: the file_path column INSIDE position-delete parquet
    stores absolute data-file paths; a directory rename must rewrite
    them or every position-deleted row silently resurrects."""
    b1, b2 = _batches(spark)
    t = lh.create_table(
        "ns.rn", SCHEMAS["orders"], partition_by=["o_orderstatus"]
    )
    t.append(b1)
    t.delete_where_positions(F.col("o_orderstatus") == "F")
    expected = sorted(
        r.o_orderkey
        for r in b1.filter(F.col("o_orderstatus") != "F")
        .select("o_orderkey")
        .collect()
    )
    assert (
        sorted(r.o_orderkey for r in t.scan().select("o_orderkey").collect())
        == expected
    )
    lh.rename_table("ns.rn", "ns.rn2")
    t2 = lh.load_table("ns.rn2")
    got = sorted(
        r.o_orderkey for r in t2.scan().select("o_orderkey").collect()
    )
    assert got == expected, "position-deleted rows resurrected after rename"


def test_rename_table_rewrites_branch_logs_too(spark, lh):
    b1, b2 = _batches(spark)
    t = lh.create_table("ns.rb", SCHEMAS["orders"])
    t.append(b1)
    br = t.create_branch("dev")
    br.append(b2)
    main_count = t.scan().count()
    dev_count = br.scan().count()
    lh.rename_table("ns.rb", "ns.rb2")
    t2 = lh.load_table("ns.rb2")
    assert t2.scan().count() == main_count
    from pyiceberg_lakehouse_spark.lakehouse.table import LakehouseTable

    br2 = LakehouseTable(spark, t2.table_dir, branch="dev")
    assert br2.scan().count() == dev_count
