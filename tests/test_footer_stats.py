"""The one parquet-footer walker (lakehouse/stats.py::footer_stats) that the
log's file entries and the Iceberg export's manifests both project from.

Bounds must cover every non-null value of a file: a column gets bounds only
when every row group holding a non-null value reports min and max. A row
group without them — parquet-mr writes none for a row group holding a
>4 KB string — leaves the column unbounded, so every pruning reader keeps
the file."""

from __future__ import annotations

import datetime

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from pyiceberg_lakehouse_spark.lakehouse import Lakehouse
from pyiceberg_lakehouse_spark.lakehouse.stats import (
    collect_file_stats,
    data_file_entry,
    footer_stats,
)

BIG = "x" * 5001


def _statless_table(spark, warehouse):
    """20,000 short strings plus one 5,001-char string in ONE file whose
    64 KB row groups put the long string in the last one: parquet-mr
    writes no min/max for that row group."""
    rows = [(i, f"s{i:06d}") for i in range(20000)] + [(20000, BIG)]
    df = spark.createDataFrame(rows, "id long, s string")
    t = Lakehouse(spark, warehouse).create_table("ns.statless", df.schema)
    spark.conf.set("parquet.block.size", "65536")
    try:
        t.append(df.coalesce(1))
    finally:
        spark.conf.unset("parquet.block.size")
    [f] = t.log.live_files()
    meta = pq.ParquetFile(f["path"]).metadata
    assert meta.num_row_groups > 1
    assert not meta.row_group(meta.num_row_groups - 1).column(1).statistics.has_min_max
    return t


def test_statless_row_group_drops_bounds(spark, warehouse):
    t = _statless_table(spark, warehouse)
    [f] = t.log.live_files()
    assert "s" not in f["stats"]
    assert f["stats"]["id"] == [0, 20000]


def test_stat_filter_scan_finds_statless_row(spark, warehouse):
    t = _statless_table(spark, warehouse)
    got = t.scan(stat_filter={"s": ("=", BIG)}).filter(F.col("s") == BIG)
    assert got.count() == 1


def test_delete_where_removes_statless_row(spark, warehouse):
    t = _statless_table(spark, warehouse)
    t.delete_where(F.col("s") == BIG, stat_filter={"s": ("=", BIG)})
    assert t.scan().filter(F.col("s") == BIG).count() == 0
    assert t.scan().count() == 20000


def test_datasource_pushdown_reads_statless_row(spark, warehouse):
    from pyiceberg_lakehouse_spark.sources.datasource import (
        register_lakehouse_source,
    )

    t = _statless_table(spark, warehouse)
    register_lakehouse_source(spark)
    df = spark.read.format("lakehouse").load(t.table_dir)
    assert df.filter(F.col("s") == BIG).select("id").collect()[0]["id"] == 20000


def test_all_null_row_group_keeps_other_bounds(tmp_path):
    path = str(tmp_path / "nulls.parquet")
    pq.write_table(
        pa.table({
            "a": pa.array([None] * 4 + [3, 9, None, 5], pa.int64()),
            "b": pa.array(list(range(8)), pa.int64()),
        }),
        path,
        row_group_size=4,
    )
    rows, cols = footer_stats(path)
    assert rows == 8
    assert cols["a"] == {"bounds": (3, 9), "values": 8, "nulls": 5}
    assert cols["b"]["bounds"] == (0, 7)
    assert collect_file_stats(path) == {"a": [3, 9], "b": [0, 7]}


def test_column_without_min_max_gets_no_bounds(tmp_path):
    # INT96 timestamps (Spark's legacy outputTimestampType) carry no
    # statistics at all
    path = str(tmp_path / "int96.parquet")
    ts = [datetime.datetime(2020, 1, d) for d in (1, 2, 3)]
    pq.write_table(
        pa.table({"ts": pa.array(ts, pa.timestamp("us")), "k": [1, 2, 3]}),
        path,
        use_deprecated_int96_timestamps=True,
    )
    cols = footer_stats(path)[1]
    assert cols["ts"]["bounds"] is None and cols["ts"]["nulls"] is None
    assert cols["ts"]["values"] == 3
    assert data_file_entry(path, {}) == {
        "path": path, "partition": {}, "rows": 3, "stats": {"k": [1, 3]},
    }


def test_append_opens_each_footer_once(spark, warehouse, monkeypatch):
    opened: list[str] = []

    class Counting(pq.ParquetFile):
        def __init__(self, source, *args, **kwargs):
            opened.append(str(source))
            super().__init__(source, *args, **kwargs)

    df = spark.range(1000).withColumn("p", (F.col("id") % 2).cast("string"))
    t = Lakehouse(spark, warehouse).create_table(
        "ns.opens", df.schema, partition_by=["p"],
        properties={"write.target-records-per-file": "200"},
    )
    monkeypatch.setattr(pq, "ParquetFile", Counting)
    snap = t.append(df)
    written = sorted(f["path"] for f in snap.added_files)
    assert len(written) > 2
    assert sorted(opened) == written


def test_change_data_files_honour_records_per_file(spark, warehouse):
    df = spark.range(1000).withColumn("v", F.col("id") * 2)
    t = Lakehouse(spark, warehouse).create_table(
        "ns.cdf_sized", df.schema,
        properties={"change-data-feed": "true",
                    "write.target-records-per-file": "100"},
    )
    t.append(df)
    snap = t.delete_where(F.col("id") < 350)
    change = snap.summary["change-data-files"]
    assert sum(f["rows"] for f in change) == 350
    assert len(change) >= 4
    assert all(f["rows"] <= 100 for f in change)
