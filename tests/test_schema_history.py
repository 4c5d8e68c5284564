"""Schema history read through every reader: ``LakehouseTable.scan()``,
``format("lakehouse")`` batch and stream, before and after snapshot
expiry. All of them resolve a file's columns through the snapshot log's
one resolver (``SnapshotLog.column_resolver``), so a column dropped and
re-added, or renamed away and its name re-added, reads NULL from files
written before the re-add instead of serving the old bytes."""

from __future__ import annotations

from pyspark.sql import types as T

from pyiceberg_lakehouse_spark.lakehouse import Lakehouse
from pyiceberg_lakehouse_spark.lakehouse.log import SnapshotLog
from pyiceberg_lakehouse_spark.lakehouse.maintenance import expire_snapshots
from pyiceberg_lakehouse_spark.sources.datasource import (
    LakehouseBatchReader,
    register_lakehouse_source,
)

SCHEMA = T.StructType(
    [T.StructField("id", T.LongType()), T.StructField("x", T.StringType())]
)


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


def _streamed(spark, table_dir: str, tmp_path) -> list[tuple]:
    q = (
        spark.readStream.format("lakehouse")
        .load(table_dir)
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return _rows(spark.read.parquet(str(tmp_path / "out")))


def _readded(spark, warehouse):
    t = Lakehouse(spark, warehouse).create_table("ns.readd", SCHEMA)
    t.append(spark.createDataFrame([(1, "old")], SCHEMA))
    t.drop_column("x")
    t.add_column("x", T.StringType())
    register_lakehouse_source(spark)
    return t


def test_readd_reads_null_in_every_reader(spark, warehouse, tmp_path):
    t = _readded(spark, warehouse)
    assert _rows(t.scan()) == [(1, None)]
    assert _rows(spark.read.format("lakehouse").load(t.table_dir)) == [(1, None)]
    assert _streamed(spark, t.table_dir, tmp_path) == [(1, None)]
    t.append(spark.createDataFrame([(2, "new")], SCHEMA))
    fmt = spark.read.format("lakehouse").load(t.table_dir)
    assert _rows(fmt) == _rows(t.scan()) == [(1, None), (2, "new")]


def test_readd_reads_null_after_expiry(spark, warehouse):
    """Expiry drops the drop/add snapshots; their events survive in the
    base's ``column_history`` stash, and both readers still null the
    stale bytes."""
    t = _readded(spark, warehouse)
    t.append(spark.createDataFrame([(2, "new")], SCHEMA))
    expire_snapshots(t, keep_last=1)
    log = SnapshotLog(t.table_dir).load()
    assert [s.operation for s in log.snapshots] == ["overwrite"]
    assert {h["op"] for h in log.snapshots[0].summary["column_history"]} == {"add", "drop"}
    assert "rename_history" not in log.snapshots[0].summary
    fmt = spark.read.format("lakehouse").load(t.table_dir)
    assert _rows(fmt) == _rows(t.scan()) == [(1, None), (2, "new")]


def test_rename_then_readd_of_the_old_name(spark, warehouse):
    """``x`` renamed to ``y``, then a new ``x`` added: an old file's ``x``
    bytes belong to ``y``; the new ``x`` reads NULL there."""
    t = Lakehouse(spark, warehouse).create_table("ns.rn_readd", SCHEMA)
    t.append(spark.createDataFrame([(1, "a")], SCHEMA))
    t.rename_column("x", "y")
    t.add_column("x", T.StringType())
    register_lakehouse_source(spark)
    fmt = spark.read.format("lakehouse").load(t.table_dir)
    assert fmt.columns == ["id", "y", "x"]
    assert _rows(fmt) == _rows(t.scan()) == [(1, "a", None)]
    assert t.log.column_resolver()(2) == {"id": "id", "y": "x", "x": None}
    expire_snapshots(t, keep_last=1)
    fmt = spark.read.format("lakehouse").load(t.table_dir)
    assert _rows(fmt) == _rows(t.scan()) == [(1, "a", None)]


def test_datasource_append_logs_decoded_partition_values(spark, warehouse):
    """A ``format("lakehouse")`` append logs the partition value, not the
    writer's percent-encoded path segment, so partition pruning in
    ``scan()`` and in the data source's pushed filters finds the file."""
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("cat", T.StringType())]
    )
    t = Lakehouse(spark, warehouse).create_table(
        "ns.cat_paths", schema, partition_by=["cat"]
    )
    register_lakehouse_source(spark)
    spark.createDataFrame([(1, "x/y"), (2, "a b"), (3, "plain")], schema).write.format(
        "lakehouse"
    ).mode("append").save(t.table_dir)
    t.log.load()
    assert sorted(f["partition"]["cat"] for f in t.log.live_files()) == [
        "a b", "plain", "x/y",
    ]
    assert _rows(t.scan(partition_filter={"cat": "x/y"})) == [(1, "x/y")]
    fmt = spark.read.format("lakehouse").load(t.table_dir)
    assert _rows(fmt.filter("cat = 'x/y'")) == [(1, "x/y")]
    assert _rows(fmt.filter("cat in ('a b', 'plain')")) == [(2, "a b"), (3, "plain")]


def test_pushed_in_filter_prunes_partitions(spark, warehouse):
    """An ``IN`` list reaches ``prune_files`` as ``("in", values)``: on an
    identity partition column it keeps only the listed partitions."""
    from pyspark.sql.datasource import In

    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("cat", T.StringType())]
    )
    t = Lakehouse(spark, warehouse).create_table(
        "ns.cat_in", schema, partition_by=["cat"]
    )
    t.append(spark.createDataFrame([(i, c) for i, c in enumerate("abcd")], schema))
    reader = LakehouseBatchReader({"path": t.table_dir})
    assert list(reader.pushFilters([In(("cat",), ("b", "d"))])) == [In(("cat",), ("b", "d"))]
    kept = sorted(s.partition["cat"] for s in reader.partitions())
    assert kept == ["b", "d"]


def _cat_table(spark, warehouse, name: str):
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("cat", T.StringType())]
    )
    t = Lakehouse(spark, warehouse).create_table(name, schema, partition_by=["cat"])
    register_lakehouse_source(spark)
    return t, schema


def test_literal_percent_partition_values_read_as_written(spark, warehouse):
    """A partition value holding a literal ``%XX`` is logged as written by
    either writer, and no reader decodes it again: ``format("lakehouse")``
    returns it and a pushed equality filter keeps its file."""
    t, schema = _cat_table(spark, warehouse, "ns.cat_pct")
    spark.createDataFrame([(1, "100%20off")], schema).write.format("lakehouse").mode(
        "append"
    ).save(t.table_dir)
    t.log.load()
    t.append(spark.createDataFrame([(2, "50%2F50")], schema))
    assert sorted(f["partition"]["cat"] for f in t.log.live_files()) == [
        "100%20off", "50%2F50",
    ]
    fmt = spark.read.format("lakehouse").load(t.table_dir)
    assert _rows(fmt) == _rows(t.scan()) == [(1, "100%20off"), (2, "50%2F50")]
    assert _rows(fmt.filter("cat = '100%20off'")) == [(1, "100%20off")]
    assert _rows(fmt.filter("cat = '50%2F50'")) == [(2, "50%2F50")]
    assert _rows(t.scan(partition_filter={"cat": "100%20off"})) == [(1, "100%20off")]


def test_encoded_values_of_older_datasource_writes_decode_once(spark, warehouse):
    """Data-source appends of earlier versions logged pyarrow's path
    segment (``x%2Fy``). Load decodes those values once, in the base and
    in the entries, and a rewritten base is not decoded a second time."""
    import json
    import os

    from pyiceberg_lakehouse_spark.lakehouse.log import _replace

    t, schema = _cat_table(spark, warehouse, "ns.cat_old")
    rows = [(1, "x/y"), (2, "100%20off"), (3, "plain")]
    spark.createDataFrame(rows[:2], schema).write.format("lakehouse").mode(
        "append"
    ).save(t.table_dir)
    spark.createDataFrame(rows[2:], schema).write.format("lakehouse").mode(
        "append"
    ).save(t.table_dir)
    log = SnapshotLog(t.table_dir).load()

    def as_written(f):
        seg = os.path.basename(os.path.dirname(f["path"]))
        return {**f, "partition": {"cat": seg.split("=", 1)[1]}}

    # the first append goes to the base, the second stays an entry, both
    # holding the raw segments as the earlier writer logged them
    last = log.snapshots.pop()
    for s in log.snapshots:
        s.added_files = [as_written(f) for f in s.added_files]
    log._write()
    last.added_files = [as_written(f) for f in last.added_files]
    _replace(
        os.path.join(log.entry_dir, log._entry_name(last.snapshot_id)),
        json.dumps({"snapshot": last.packed()}),
    )
    raw = sorted(
        f["partition"]["cat"]
        for s in log.snapshots + [last]
        for f in s.added_files
    )
    assert raw == ["100%2520off", "plain", "x%2Fy"]

    want = sorted(rows)
    for _ in range(2):
        log = SnapshotLog(t.table_dir).load()
        assert sorted(f["partition"]["cat"] for f in log.live_files()) == [
            "100%20off", "plain", "x/y",
        ]
        fmt = spark.read.format("lakehouse").load(t.table_dir)
        assert _rows(fmt) == want
        assert _rows(fmt.filter("cat = '100%20off'")) == [(2, "100%20off")]
        assert _rows(fmt.filter("cat = 'x/y'")) == [(1, "x/y")]
        t.log.load()
        assert _rows(t.scan(partition_filter={"cat": "x/y"})) == [(1, "x/y")]
        log._write()  # the decoded values go back to disk in a new base


def test_plain_add_keeps_one_scan(spark, warehouse):
    """A plain ``add_column`` leaves the older files' column map as it is
    (they lack the column and read NULL by name), so an unpartitioned
    table still reads in one scan; a drop + re-add splits the files
    written before it from those written after."""
    t = Lakehouse(spark, warehouse).create_table("ns.plain_add", SCHEMA)
    t.append(spark.createDataFrame([(1, "a")], SCHEMA))
    t.add_column("extra", T.StringType())
    t.append(spark.createDataFrame([(2, "b", "e")], t.schema()))

    def scans(df) -> int:
        plan = df._jdf.queryExecution().executedPlan().toString()
        return plan.count("FileScan parquet")

    assert _rows(t.scan()) == [(1, "a", None), (2, "b", "e")]
    assert scans(t.scan()) == 1
    t.drop_column("extra")
    t.add_column("extra", T.StringType())
    t.append(spark.createDataFrame([(3, "c", "f")], t.schema()))
    assert _rows(t.scan()) == [(1, "a", None), (2, "b", None), (3, "c", "f")]
    assert scans(t.scan()) == 2


def test_null_partition_reads_null_through_the_format(spark, warehouse):
    """Both writers log a NULL partition value as the hive sentinel path
    segment; ``format("lakehouse")`` reads it back as NULL, as ``scan()``
    does, for string and numeric partition columns."""
    t, schema = _cat_table(spark, warehouse, "ns.cat_null")
    spark.createDataFrame([(1, None), (2, "a")], schema).write.format("lakehouse").mode(
        "append"
    ).save(t.table_dir)
    t.log.load()
    t.append(spark.createDataFrame([(3, None)], schema))
    fmt = spark.read.format("lakehouse").load(t.table_dir)
    assert _rows(fmt) == _rows(t.scan()) == [(1, None), (2, "a"), (3, None)]
    assert _rows(fmt.filter("cat = 'a'")) == [(2, "a")]

    num = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("n", T.IntegerType())]
    )
    u = Lakehouse(spark, warehouse).create_table("ns.n_null", num, partition_by=["n"])
    spark.createDataFrame([(1, None), (2, 7)], num).write.format("lakehouse").mode(
        "append"
    ).save(u.table_dir)
    fmt = spark.read.format("lakehouse").load(u.table_dir)
    assert _rows(fmt) == [(1, None), (2, 7)]
