"""Iceberg v2 metadata interop tests (lakehouse/iceberg_interop.py):
spec-shaped metadata walk, manifest tombstones, time travel, gates."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from pyiceberg_lakehouse_spark.lakehouse import iceberg_interop as I
from pyiceberg_lakehouse_spark.tmpdirs import session_tmpdir

SCHEMA_FIELDS = [
    {"id": 1, "name": "id", "required": True, "type": "long"},
    {"id": 2, "name": "v", "required": False, "type": "long"},
]


@pytest.fixture
def table(spark):
    td = session_tmpdir(prefix="ice_")
    d1, d2 = os.path.join(td, "d1"), os.path.join(td, "d2")
    spark.range(0, 100).withColumn("v", F.col("id") * 2).coalesce(1) \
        .write.parquet(d1)
    spark.range(100, 150).withColumn("v", F.col("id") * 2).coalesce(1) \
        .write.parquet(d2)
    f1 = next(os.path.join(d1, f) for f in os.listdir(d1)
              if f.endswith(".parquet"))
    f2 = next(os.path.join(d2, f) for f in os.listdir(d2)
              if f.endswith(".parquet"))
    mp = I.write_iceberg_metadata(
        td,
        snapshots=[
            {"files": [{"path": f1, "records": 100}]},
            {"files": [{"path": f2, "records": 50}]},
            {"deleted": [f1]},
        ],
        schema_fields=SCHEMA_FIELDS,
    )
    return mp, f1, f2


def test_current_follows_main_ref_past_tombstone(spark, table):
    mp, f1, _f2 = table
    assert os.path.exists(f1)  # deleted file still on disk
    df = I.read_iceberg_table(spark, mp)
    assert df.count() == 50
    assert df.agg(F.min("id")).collect()[0][0] == 100


def test_time_travel_by_snapshot_id(spark, table):
    mp, _f1, _f2 = table
    assert I.read_iceberg_table(spark, mp, snapshot_id=1000).count() == 100
    assert I.read_iceberg_table(spark, mp, snapshot_id=1001).count() == 150
    with pytest.raises(KeyError):
        I.read_iceberg_table(spark, mp, snapshot_id=9999)


def test_live_files_accounting(table):
    mp, _f1, f2 = table
    info = I.iceberg_live_files(mp)
    assert [f["path"] for f in info["files"]] == [os.path.abspath(f2)]
    assert info["files"][0]["records"] == 50
    info2 = I.iceberg_live_files(mp, snapshot_id=1001)
    assert len(info2["files"]) == 2


def test_delete_manifest_content_mismatch_rejected(table):
    # a DATA file listed inside a manifest the manifest-list marks as a
    # DELETE manifest is a structural inconsistency, not a gated feature
    mp, _f1, _f2 = table
    import json

    from pyiceberg_lakehouse_spark.operators.avro import (
        decode_avro,
        encode_avro,
    )

    meta = json.load(open(mp))
    snap = meta["snapshots"][-1]
    mlist = decode_avro(open(snap["manifest-list"], "rb").read())
    recs = mlist["records"]
    recs[0]["content"] = 1  # claim a DELETE manifest over data entries
    with open(snap["manifest-list"], "wb") as fh:
        fh.write(encode_avro(recs, I._MANIFEST_LIST_SCHEMA))
    with pytest.raises(ValueError, match="DELETE manifest"):
        I.iceberg_live_files(mp)


def _one_parquet(d):
    return next(os.path.join(d, f) for f in os.listdir(d)
                if f.endswith(".parquet"))


@pytest.fixture
def mor_table(spark):
    """Three snapshots exercising both delete forms and both
    sequence-applicability rules:

    - snap1 (seq1): add f1 (ids 0..99).
    - snap2 (seq2): add f2 (ids 100..149) AND position-delete ids
      {0..9} from f1 (seq2 >= seq1 applies) and ids {100..104} from f2
      (same-commit: seq2 >= seq2 ALSO applies).
    - snap3 (seq3): add f3 (ids 150..199, v = id*2 like the rest) AND
      equality-delete v % 20 == 0 rows... expressed as explicit v
      values; applies to f1/f2 (seq < 3) but NOT to f3 (seq 3 is not
      strictly older).
    """
    td = session_tmpdir(prefix="ice_mor_")
    dirs = {n: os.path.join(td, n) for n in
            ("f1", "f2", "f3", "pd1", "pd2", "ed")}
    spark.range(0, 100).withColumn("v", F.col("id") * 2).coalesce(1) \
        .write.parquet(dirs["f1"])
    spark.range(100, 150).withColumn("v", F.col("id") * 2).coalesce(1) \
        .write.parquet(dirs["f2"])
    spark.range(150, 200).withColumn("v", F.col("id") * 2).coalesce(1) \
        .write.parquet(dirs["f3"])
    f1, f2, f3 = (_one_parquet(dirs[n]) for n in ("f1", "f2", "f3"))

    # position-delete files address rows by (file_path, pos); build the
    # positions from the engine's own row_index so they are exact
    def write_pos_deletes(data_file, id_set, out_dir):
        rows = (
            spark.read.parquet(data_file)
            .select(
                F.col("_metadata.row_index").alias("pos"),
                F.col("id"),
            )
            .filter(F.col("id").isin(list(id_set)))
            .select(F.lit(os.path.abspath(data_file)).alias("file_path"),
                    "pos")
        )
        rows.coalesce(1).write.parquet(out_dir)
        return _one_parquet(out_dir), rows.count()

    pd1, n1 = write_pos_deletes(f1, range(0, 10), dirs["pd1"])
    pd2, n2 = write_pos_deletes(f2, range(100, 105), dirs["pd2"])

    # equality-delete file on v (field id 2): v in {40, 80, 240, 360}
    # -> ids 20, 40 (f1), 120 (f2), 180 (f3 — must SURVIVE, same seq)
    eq_vals = [40, 80, 240, 360]
    spark.createDataFrame([(v,) for v in eq_vals], "v long") \
        .coalesce(1).write.parquet(dirs["ed"])
    ed = _one_parquet(dirs["ed"])

    mp = I.write_iceberg_metadata(
        td,
        snapshots=[
            {"files": [{"path": f1, "records": 100}]},
            {"files": [{"path": f2, "records": 50}],
             "pos_deletes": [{"path": pd1, "records": n1},
                             {"path": pd2, "records": n2}]},
            {"files": [{"path": f3, "records": 50}],
             "eq_deletes": [{"path": ed, "records": len(eq_vals),
                             "equality_ids": [2]}]},
        ],
        schema_fields=SCHEMA_FIELDS,
    )
    return mp


def test_mor_position_and_equality_deletes(spark, mor_table):
    df = I.read_iceberg_table(spark, mor_table)
    ids = {r[0] for r in df.select("id").collect()}
    # 200 rows - 10 pos-deleted (0..9) - 5 pos-deleted (100..104)
    # - eq-deleted ids 20, 40, 120; id 180 SURVIVES (f3 seq == eq seq)
    expected = set(range(200)) - set(range(10)) - set(range(100, 105)) \
        - {20, 40, 120}
    assert ids == expected
    assert 180 in ids
    assert set(df.columns) == {"id", "v"}  # helper columns dropped


def test_mor_time_travel_sees_only_older_deletes(spark, mor_table):
    # snapshot 1001 = after the position deletes, before the equality
    ids = {r[0] for r in
           I.read_iceberg_table(spark, mor_table, snapshot_id=1001)
           .select("id").collect()}
    assert ids == set(range(200)) - set(range(10)) \
        - set(range(100, 105)) - set(range(150, 200))
    # snapshot 1000 predates every delete file
    assert I.read_iceberg_table(
        spark, mor_table, snapshot_id=1000).count() == 100


def test_mor_live_files_accounting(mor_table):
    info = I.iceberg_live_files(mor_table)
    assert len(info["files"]) == 3
    assert sorted(d["content"] for d in info["delete_files"]) == [1, 1, 2]
    eq = next(d for d in info["delete_files"] if d["content"] == 2)
    assert eq["equality_ids"] == [2]
    assert eq["seq"] == 3
    pos_seqs = {d["seq"] for d in info["delete_files"]
                if d["content"] == 1}
    assert pos_seqs == {2}


def test_v1_inline_manifests_form(spark, table):
    # a v1 snapshot carrying 'manifests' instead of 'manifest-list'
    import json

    mp, _f1, _f2 = table
    meta = json.load(open(mp))
    from pyiceberg_lakehouse_spark.operators.avro import decode_avro

    snap = meta["snapshots"][0]
    mlist = decode_avro(open(snap["manifest-list"], "rb").read())["records"]
    snap["manifests"] = [m["manifest_path"] for m in mlist]
    del snap["manifest-list"]
    meta["format-version"] = 1
    mp1 = mp.replace(".metadata.json", ".v1.metadata.json")
    with open(mp1, "w") as fh:
        json.dump(meta, fh)
    assert I.read_iceberg_table(spark, mp1, snapshot_id=1000).count() == 100


@pytest.fixture
def part_table(spark):
    td = session_tmpdir(prefix="ice_part_")
    files = {}
    for k, lo, hi in (("a", 0, 40), ("b", 40, 70), ("c", 70, 100)):
        d = os.path.join(td, f"d{k}")
        spark.range(lo, hi).withColumn("v", F.col("id") * 2) \
            .coalesce(1).write.parquet(d)
        files[k] = _one_parquet(d)
    mp = I.write_iceberg_metadata(
        td,
        snapshots=[
            {"files": [
                {"path": files["a"], "records": 40,
                 "partition": {"bucket": 0}},
                {"path": files["b"], "records": 30,
                 "partition": {"bucket": 1}},
                {"path": files["c"], "records": 30,
                 "partition": {"bucket": 2}},
            ]},
        ],
        schema_fields=SCHEMA_FIELDS
        + [{"id": 3, "name": "bucket", "required": False,
            "type": "long"}],
        partition_fields=[("bucket", "long")],
    )
    return mp


def test_partition_pruning_and_derived_spec(spark, part_table):
    import json

    info = I.iceberg_live_files(part_table)
    assert [f["partition"]["bucket"] for f in info["files"]] == [0, 1, 2]
    df = I.read_iceberg_table(
        spark, part_table, partition_filter=lambda p: p["bucket"] >= 1
    )
    assert df.count() == 60
    assert df.agg(F.min("id")).collect()[0][0] == 40
    # two files in the plan, one pruned before any IO
    files_in_plan = df.inputFiles()
    assert len(files_in_plan) == 2
    meta = json.load(open(part_table))
    spec = meta["partition-specs"][0]["fields"][0]
    assert spec["transform"] == "identity" and spec["name"] == "bucket"


def test_partition_filter_requires_partition_struct(spark, table):
    mp, _f1, _f2 = table
    with pytest.raises(ValueError, match="no partition struct"):
        I.read_iceberg_table(spark, mp,
                             partition_filter=lambda p: True)


def test_deletes_apply_within_kept_partitions(spark, part_table, tmp_path):
    # position-delete ids 40..44 from the bucket-1 file, then read with
    # a filter keeping buckets 1-2: the delete must still apply
    import json

    meta = json.load(open(part_table))
    info = I.iceberg_live_files(part_table)
    target = next(f for f in info["files"]
                  if f["partition"]["bucket"] == 1)
    pd_dir = str(tmp_path / "pd")
    (spark.read.parquet(target["path"])
     .select(F.col("_metadata.row_index").alias("pos"), "id")
     .filter(F.col("id") < 45)
     .select(F.lit(target["path"]).alias("file_path"), "pos")
     ).coalesce(1).write.parquet(pd_dir)
    pd_file = _one_parquet(pd_dir)
    td = os.path.dirname(os.path.dirname(part_table))
    mp2 = I.write_iceberg_metadata(
        td,
        snapshots=[
            {"files": [
                {"path": f["path"], "records": f["records"],
                 "partition": f["partition"]}
                for f in info["files"]
            ]},
            {"pos_deletes": [{"path": pd_file, "records": 5}]},
        ],
        schema_fields=SCHEMA_FIELDS
        + [{"id": 3, "name": "bucket", "required": False,
            "type": "long"}],
        partition_fields=[("bucket", "long")],
    )
    df = I.read_iceberg_table(
        spark, mp2, partition_filter=lambda p: p["bucket"] >= 1
    )
    ids = {r[0] for r in df.select("id").collect()}
    assert ids == set(range(45, 100))


def test_mor_delete_application_broadcasts(spark, mor_table):
    """The delete sides carry manifest record counts, so small delete
    sets must reach the plan as BROADCAST anti-joins (no shuffle of
    the 100 TB data side on the delete key)."""
    df = I.read_iceberg_table(spark, mor_table)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode \
        .fromString("formatted")
    plan = df._jdf.queryExecution().explainString(mode)
    assert "LeftAnti" in plan, plan[:600]
    import re

    anti = re.findall(r"BroadcastHashJoin.+LeftAnti", plan)
    assert len(anti) >= 2, plan[:800]  # position + equality joins


def test_equality_delete_applies_within_its_partition_spec(spark, tmp_path):
    """An equality delete under a partitioned spec removes matching rows
    of data files in its own partition only; under an unpartitioned spec
    (``global_deletes``), of every partition."""
    files = {}
    for b in (0, 1):
        d = str(tmp_path / f"d{b}")
        spark.range(0, 10).withColumn("v", F.col("id") + 100 * b) \
            .coalesce(1).write.parquet(d)
        files[b] = _one_parquet(d)
    ed = str(tmp_path / "eq")
    spark.createDataFrame([(1,), (2,)], "id long").coalesce(1).write.parquet(ed)

    def read(name, global_deletes):
        mp = I.write_iceberg_metadata(
            str(tmp_path / name),
            snapshots=[
                {"files": [
                    {"path": files[b], "records": 10, "partition": {"bucket": b}}
                    for b in (0, 1)
                ]},
                {"eq_deletes": [
                    {"path": _one_parquet(ed), "records": 2,
                     "equality_ids": [1], "partition": {"bucket": 0}},
                ]},
            ],
            schema_fields=SCHEMA_FIELDS
            + [{"id": 3, "name": "bucket", "required": False, "type": "long"}],
            partition_fields=[("bucket", "long")],
            global_deletes=global_deletes,
        )
        return sorted(r.v for r in I.read_iceberg_table(spark, mp).collect())

    every = [*range(10), *range(100, 110)]
    assert read("scoped", False) == [v for v in every if v not in (1, 2)]
    assert read("global", True) == [v for v in every if v % 100 not in (1, 2)]
