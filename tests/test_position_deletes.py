"""Merge-on-read POSITION deletes (the second Iceberg v2 delete-file
form): lifecycle, sequencing, composition with equality deletes, and
the purge gate."""

import os
from urllib.parse import quote, unquote

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


def _space_table(spark, name):
    """A 10-row table under a warehouse path holding a space, with rows
    k < 3 position-deleted."""
    lh = Lakehouse(spark, os.path.join(session_tmpdir(prefix="posdel_"), "with space"))
    df = spark.createDataFrame([(i, f"v{i}") for i in range(10)], "k long, v string")
    t = lh.create_table(name, df.schema)
    t.append(df)
    t.delete_where_positions(F.col("k") < 3)
    return lh, t


def _keys(t):
    return sorted(r.k for r in t.scan().select("k").collect())


def test_rename_table_keeps_position_deletes_under_a_path_with_a_space(spark):
    lh, t = _space_table(spark, "ns.sp")
    assert _keys(t) == list(range(3, 10))
    lh.rename_table("ns.sp", "ns.sp2")
    assert _keys(lh.load_table("ns.sp2")) == list(range(3, 10))


def test_position_delete_file_holding_file_uris_still_applies(spark):
    """Position-delete files once stored Spark's ``file:`` URI of each
    data file (a space as ``%20``); the scan still decodes that form."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    _, t = _space_table(spark, "ns.uri")
    n_uris = 0
    for d in t.log.live_deletes():
        tbl = pq.read_table(d["path"])
        uris = [
            "file:" + quote(unquote(p[len("file:"):]) if p.startswith("file:") else p)
            for p in tbl.column("file_path").to_pylist()
        ]
        assert all("%20" in u for u in uris)
        n_uris += len(uris)
        i = tbl.schema.get_field_index("file_path")
        pq.write_table(tbl.set_column(i, "file_path", pa.array(uris, pa.string())), d["path"])
        crc = os.path.join(os.path.dirname(d["path"]), f".{os.path.basename(d['path'])}.crc")
        if os.path.exists(crc):
            os.unlink(crc)
    assert n_uris == 3
    assert _keys(t) == list(range(3, 10))
