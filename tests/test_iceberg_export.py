"""Iceberg v2 EXPORT (VERDICT r17 task #2) —
lakehouse/iceberg_export.py::export_iceberg_table.

The contract: a native lakehouse table exports to spec-exact Iceberg
v2 metadata (real Avro manifest lists + manifests with field-ids,
bounds and null counts; metadata.json with the log's own snapshot
ids) such that ``read_iceberg_table`` — the engine's native
``iceberg_scan`` — reproduces ``table.scan()`` at EVERY exported
snapshot, including merge-on-read delete history. The DuckDB iceberg
extension cannot install in this sandbox (no network), so foreign-
engine compatibility is pinned structurally: spec field-ids on every
Avro field, the required container metadata keys, Appendix-D bounds
bytes, and the Column Projection rule for identity partitions.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pyiceberg_lakehouse_spark.lakehouse import Lakehouse
from pyiceberg_lakehouse_spark.lakehouse import iceberg_interop as I
from pyiceberg_lakehouse_spark.lakehouse.iceberg_export import (
    export_iceberg_table,
)
from pyiceberg_lakehouse_spark.lakehouse.maintenance import expire_snapshots
from pyiceberg_lakehouse_spark.operators.avro import decode_avro
from pyiceberg_lakehouse_spark.sources.testdata import SCHEMAS, load_table

SF = "/root/testdata/sf0.001"
KV = T.StructType([T.StructField("k", T.LongType()), T.StructField("v", T.StringType())])


def _rows(df, cols=("o_orderkey", "o_custkey")):
    return set(tuple(r) for r in df.select(*cols).collect())


@pytest.fixture
def exported(spark, warehouse):
    """Partitioned table with append + CoW delete + MoR position
    delete history, exported."""
    lh = Lakehouse(spark, warehouse)
    t = lh.create_table(
        "ns.exp_orders", SCHEMAS["orders"],
        partition_by=["o_orderstatus"],
        # keeps each append's own files through the copy-on-write delete,
        # so files differ in their o_orderkey bounds (the pruning check)
        properties={"write.distribution-mode": "none"},
    )
    orders = load_table(spark, SF, "orders")
    t.append(orders.filter(F.col("o_orderkey") % 2 == 0))
    t.append(orders.filter(F.col("o_orderkey") % 2 == 1))
    t.delete_where(F.col("o_orderkey") % 7 == 0)
    t.delete_where_positions(F.col("o_orderkey") % 10 == 3)
    return t, export_iceberg_table(t)


def test_roundtrip_every_snapshot(spark, exported):
    t, mp = exported
    assert _rows(I.read_iceberg_table(spark, mp)) == _rows(t.scan())
    for s in t.log.snapshots:
        assert _rows(
            I.read_iceberg_table(spark, mp, snapshot_id=s.snapshot_id)
        ) == _rows(t.scan(snapshot_id=s.snapshot_id)), s.operation


def test_identity_partition_column_projection(spark, exported):
    """Data files drop identity partition columns (hive layout); the
    exported schema declares them and the reader reconstitutes them
    from r102 metadata per the spec's Column Projection rule."""
    t, mp = exported
    df = I.read_iceberg_table(spark, mp)
    assert "o_orderstatus" in df.columns
    # and the values are real, not nulls
    assert df.filter(F.col("o_orderstatus").isNull()).count() == 0
    got = _rows(df, ("o_orderkey", "o_orderstatus"))
    want = _rows(t.scan(), ("o_orderkey", "o_orderstatus"))
    assert got == want
    # schema order matches the table's
    assert df.columns == [f.name for f in t.schema().fields]


def test_exported_stats_prune(spark, exported):
    t, mp = exported
    plan = I.plan_iceberg_scan(mp, predicates=[("o_orderkey", "<=", 5)])
    assert plan["n_pruned"] > 0, "exported bounds must prune"
    plan2 = I.plan_iceberg_scan(
        mp, predicates=[("o_orderstatus", "=", "F")]
    )
    assert plan2["n_pruned"] > 0, "identity partitions must prune"
    # pruned read still correct with the in-query predicate
    got = _rows(
        I.read_iceberg_table(
            spark, mp, predicates=[("o_orderstatus", "=", "F")]
        ).filter(F.col("o_orderstatus") == "F")
    )
    want = _rows(t.scan().filter(F.col("o_orderstatus") == "F"))
    assert got == want


def test_snapshot_ids_and_parents_preserved(spark, exported):
    t, mp = exported
    meta = json.load(open(mp))
    assert meta["format-version"] == 2
    snaps = {s["snapshot-id"]: s for s in meta["snapshots"]}
    for s in t.log.snapshots:
        assert s.snapshot_id in snaps
        got = snaps[s.snapshot_id]
        assert got["timestamp-ms"] == s.timestamp_ms
        if s.parent_id is not None:
            assert got["parent-snapshot-id"] == s.parent_id
    assert meta["current-snapshot-id"] == t.log.current_snapshot_id()
    assert (meta["refs"]["main"]["snapshot-id"]
            == t.log.current_snapshot_id())


def test_manifest_structure_spec_exact(spark, exported):
    """Structural spec pins a foreign engine relies on: Avro container
    metadata keys, field-ids on every schema field, Appendix-D bounds
    bytes, delete manifests in content=1 lists."""
    t, mp = exported
    meta = json.load(open(mp))
    head = next(
        s for s in meta["snapshots"]
        if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    mlist = decode_avro(open(head["manifest-list"], "rb").read())
    # manifest-list schema carries the spec's field-ids
    ml_ids = {
        f["name"]: f.get("field-id") for f in mlist["schema"]["fields"]
    }
    assert ml_ids["manifest_path"] == 500
    assert ml_ids["content"] == 517
    assert ml_ids["sequence_number"] == 515
    assert mlist["meta"]["format-version"] == b"2"
    contents = {e["content"] for e in mlist["records"]}
    assert contents == {0, 1}, "data + delete manifests expected"
    assert meta["partition-specs"][1] == {"spec-id": 1, "fields": []}
    for entry in mlist["records"]:
        man = decode_avro(open(entry["manifest_path"], "rb").read())
        m = man["meta"]
        assert m["format-version"] == b"2"
        assert m["content"] == (
            b"data" if entry["content"] == 0 else b"deletes"
        )
        # delete files list under the unpartitioned spec 1, which
        # Iceberg applies to every partition
        spec_id = 0 if entry["content"] == 0 else 1
        assert entry["partition_spec_id"] == spec_id
        assert m["partition-spec-id"] == str(spec_id).encode()
        emb_schema = json.loads(m["schema"])
        assert emb_schema["type"] == "struct"
        assert [f["name"] for f in emb_schema["fields"]] == [
            f.name for f in t.schema().fields
        ]
        spec_fields = json.loads(m["partition-spec"])
        if spec_id == 0:
            assert [f["name"] for f in spec_fields] == ["o_orderstatus"]
            assert spec_fields[0]["transform"] == "identity"
        else:
            assert spec_fields == []
            assert all(e["data_file"]["partition"] == {} for e in man["records"])
        # manifest-entry schema field-ids (status=0, data_file=2)
        ids = {
            f["name"]: f.get("field-id")
            for f in man["schema"]["fields"]
        }
        assert ids == {
            "status": 0, "snapshot_id": 1, "sequence_number": 3,
            "file_sequence_number": 4, "data_file": 2,
        }
        df_ids = {
            f["name"]: f.get("field-id")
            for f in next(
                f for f in man["schema"]["fields"]
                if f["name"] == "data_file"
            )["type"]["fields"]
        }
        assert df_ids["file_path"] == 100
        assert df_ids["partition"] == 102
        assert df_ids["lower_bounds"] == 125
        assert df_ids["upper_bounds"] == 128
    # a data manifest entry carries little-endian bounds for
    # o_orderkey (field id 1) and exact value/null counts
    dman = decode_avro(open(next(
        e["manifest_path"] for e in mlist["records"]
        if e["content"] == 0
    ), "rb").read())
    entry = next(
        e for e in dman["records"]
        if e["data_file"]["lower_bounds"]
    )
    df_rec = entry["data_file"]
    lo = {kv["key"]: kv["value"] for kv in df_rec["lower_bounds"]}
    import struct as _struct

    assert 1 in lo and len(lo[1]) == 8  # o_orderkey is a long
    lo_val = _struct.unpack("<q", lo[1])[0]
    vals = {kv["key"]: kv["value"] for kv in df_rec["value_counts"]}
    assert vals[1] == df_rec["record_count"]
    nulls = {
        kv["key"]: kv["value"] for kv in df_rec["null_value_counts"]
    }
    assert nulls.get(1) == 0
    # the bound actually holds over the file
    actual_min = (
        spark.read.parquet(df_rec["file_path"])
        .agg(F.min("o_orderkey")).collect()[0][0]
    )
    assert lo_val == actual_min


def test_unpartitioned_and_temporal_bounds(spark, warehouse):
    """Unpartitioned export; timestamp bounds serialize as epoch
    micros (Appendix D) and prune through plan_iceberg_scan."""
    lh = Lakehouse(spark, warehouse)
    t = lh.create_table("ns.exp_flat", SCHEMAS["orders"])
    orders = load_table(spark, SF, "orders")
    t.append(orders)
    mp = export_iceberg_table(t)
    assert _rows(I.read_iceberg_table(spark, mp)) == _rows(t.scan())
    fields = json.load(open(mp))["schemas"][0]["fields"]
    ice_t = next(
        f["type"] for f in fields if f["name"] == "o_orderdate"
    )
    assert ice_t in ("timestamp", "timestamptz")
    import datetime

    # every TPC-H order is >= 1992; a pre-1980 cutoff prunes all
    cutoff_us = int(
        (datetime.datetime(1980, 1, 1, tzinfo=datetime.timezone.utc)
         - datetime.datetime(
             1970, 1, 1, tzinfo=datetime.timezone.utc
         )).total_seconds() * 1_000_000
    )
    plan = I.plan_iceberg_scan(
        mp, predicates=[("o_orderdate", "<", cutoff_us)]
    )
    assert plan["n_pruned"] == plan["n_candidates"] > 0


def test_transform_partitions_export_unpartitioned(spark, warehouse):
    """Transform-partitioned tables export WITHOUT the transform spec
    (this engine's transforms are not bit-identical to Iceberg's, and
    a mismatched spec would make foreign pruning silently wrong) —
    the data still round-trips because transform sources live in the
    data files."""
    lh = Lakehouse(spark, warehouse)
    t = lh.create_table(
        "ns.exp_hidden", SCHEMAS["orders"],
        partition_by=["month(o_orderdate)"],
    )
    orders = load_table(spark, SF, "orders")
    t.append(orders)
    mp = export_iceberg_table(t)
    meta = json.load(open(mp))
    assert meta["partition-specs"] == [{"spec-id": 0, "fields": []}]
    assert _rows(I.read_iceberg_table(spark, mp)) == _rows(t.scan())


def test_export_gates(spark, warehouse):
    lh = Lakehouse(spark, warehouse)
    t = lh.create_table("ns.exp_gate", SCHEMAS["orders"])
    orders = load_table(spark, SF, "orders")
    t.append(orders)
    t.rename_column("o_orderpriority", "prio")
    with pytest.raises(NotImplementedError, match="schema-evolution"):
        export_iceberg_table(t)

    t2 = lh.create_table("ns.exp_gate2", SCHEMAS["orders"])
    t2.append(orders)
    victim = t2.log.live_files()[0]["path"]
    os.rename(victim, victim + ".hidden")
    try:
        with pytest.raises(ValueError, match="historical file"):
            export_iceberg_table(t2)
    finally:
        os.rename(victim + ".hidden", victim)


def test_distributed_stats_many_files(spark, warehouse):
    """r18 scale posture: >64 data files route footer-stats collection
    through one Spark job (executor-side reads) instead of a driver
    loop — same stats, same pruning, same roundtrip."""
    lh = Lakehouse(spark, warehouse)
    df = spark.range(0, 7000).selectExpr(
        "id as o_orderkey", "id % 100 as o_custkey"
    )
    t = lh.create_table("ns.exp_many", df.schema)
    t.append(df.repartition(70))
    assert len(t.log.live_files()) >= 65
    mp = export_iceberg_table(t)
    got = _rows(I.read_iceberg_table(spark, mp),
                ("o_orderkey", "o_custkey"))
    want = _rows(t.scan(), ("o_orderkey", "o_custkey"))
    assert got == want
    # every file carries bounds: a no-match predicate prunes ALL
    plan = I.plan_iceberg_scan(
        mp, predicates=[("o_orderkey", ">", 10 ** 9)]
    )
    assert plan["n_pruned"] == plan["n_candidates"] >= 65


def test_rollback_exports_original_sequence_numbers(spark, warehouse):
    """``rollback_to`` re-lists the target's files and deletes; they
    export as EXISTING entries with the sequence numbers they had at the
    target, so the target's deletes still apply to them and later
    deletes drop out. The read-back equals the native scan at every
    snapshot."""
    t = Lakehouse(spark, warehouse).create_table("ns.exp_rollback", KV)
    t.append(spark.createDataFrame([(i, f"v{i}") for i in range(10)], KV))
    deleted = t.delete_keys(spark.createDataFrame([(1,), (2,), (3,)], "k long"), ["k"])
    t.append(spark.createDataFrame([(i, f"v{i}") for i in range(10, 15)], KV))
    to_delete = t.rollback_to(deleted.snapshot_id)
    t.delete_keys(spark.createDataFrame([(4,)], "k long"), ["k"])
    to_append = t.rollback_to(2)
    assert t.scan().count() == 10
    mp = export_iceberg_table(t)
    for s in t.log.snapshots:
        assert _rows(
            I.read_iceberg_table(spark, mp, snapshot_id=s.snapshot_id), ("k", "v")
        ) == _rows(t.scan(snapshot_id=s.snapshot_id), ("k", "v")), s.snapshot_id
    for rollback, target in ((to_delete, deleted.snapshot_id), (to_append, 2)):
        got, want = (I.iceberg_live_files(mp, sid) for sid in (rollback.snapshot_id, target))
        for key in ("files", "delete_files"):
            assert sorted((f["path"], f["seq"]) for f in got[key]) == sorted(
                (f["path"], f["seq"]) for f in want[key]
            )
    head = next(
        s for s in json.load(open(mp))["snapshots"]
        if s["snapshot-id"] == to_delete.snapshot_id
    )
    statuses = {
        e["data_file"]["file_path"]: e["status"]
        for m in decode_avro(open(head["manifest-list"], "rb").read())["records"]
        for e in decode_avro(open(m["manifest_path"], "rb").read())["records"]
    }
    relisted = [f["path"] for f in t.log.live_files(deleted.snapshot_id)]
    relisted += [d["path"] for d in t.log.live_deletes(deleted.snapshot_id)]
    assert {statuses[os.path.abspath(p)] for p in relisted} == {I._STATUS_EXISTING}


def test_expired_history_keeps_delete_sequencing(spark, warehouse):
    """``expire_snapshots`` squashes the files and the deletes in effect
    into one base snapshot; exported, each keeps the sequence number of
    the snapshot that wrote it, so the deletes still apply."""
    t = Lakehouse(spark, warehouse).create_table("ns.exp_expired", KV)
    t.append(spark.createDataFrame([(i, f"v{i}") for i in range(10)], KV))
    t.delete_keys(spark.createDataFrame([(1,), (2,)], "k long"), ["k"])
    t.delete_where_positions(F.col("k") == 3)
    for lo in (10, 12):
        t.append(spark.createDataFrame([(i, f"v{i}") for i in (lo, lo + 1)], KV))
    expire_snapshots(t, keep_last=2)
    assert t.log.live_deletes()
    mp = export_iceberg_table(t)
    for s in t.log.snapshots:
        assert _rows(
            I.read_iceberg_table(spark, mp, snapshot_id=s.snapshot_id), ("k", "v")
        ) == _rows(t.scan(snapshot_id=s.snapshot_id), ("k", "v")), s.snapshot_id


def test_position_deletes_roundtrip_under_a_path_with_a_space(spark, tmp_path):
    """A position delete names its data file by the path the manifests
    record, so the export's deletes match under a warehouse path that a
    URI would escape (a space is ``%20`` in ``_metadata.file_path``)."""
    lh = Lakehouse(spark, str(tmp_path / "with space" / "warehouse"))
    t = lh.create_table("ns.exp_space", KV)
    t.append(spark.createDataFrame([(i, f"v{i}") for i in range(10)], KV))
    t.delete_where_positions(F.col("k") < 3)
    t.delete_keys(spark.createDataFrame([(5,)], "k long"), ["k"])
    want = _rows(t.scan(), ("k", "v"))
    assert {k for k, _ in want} == {3, 4, 6, 7, 8, 9}
    got = _rows(I.read_iceberg_table(spark, export_iceberg_table(t)), ("k", "v"))
    assert got == want


def test_legacy_uri_position_deletes_export_as_plain_path_copies(spark, tmp_path):
    """Position-delete files written before they stored log paths hold
    Spark's ``file:`` URI of each data file (a space as ``%20``); an
    Iceberg reader takes ``file_path`` as a raw string, so the export
    writes a plain-path copy under the destination and names that."""
    from urllib.parse import quote

    import pyarrow as pa
    import pyarrow.parquet as pq

    lh = Lakehouse(spark, str(tmp_path / "with space" / "warehouse"))
    t = lh.create_table("ns.exp_uri", KV)
    t.append(spark.createDataFrame([(i, f"v{i}") for i in range(10)], KV))
    t.delete_where_positions(F.col("k") < 3)
    written = {}
    for d in t.log.live_deletes():
        tbl = pq.read_table(d["path"])
        uris = ["file:" + quote(p) for p in tbl.column("file_path").to_pylist()]
        assert all("%20" in u for u in uris)
        written[d["path"]] = uris
        i = tbl.schema.get_field_index("file_path")
        pq.write_table(tbl.set_column(i, "file_path", pa.array(uris, pa.string())), d["path"])
        crc = os.path.join(os.path.dirname(d["path"]), f".{os.path.basename(d['path'])}.crc")
        if os.path.exists(crc):
            os.unlink(crc)
    assert sum(map(len, written.values())) == 3
    want = _rows(t.scan(), ("k", "v"))
    assert {k for k, _ in want} == set(range(3, 10))
    dest = str(tmp_path / "export")
    got = _rows(I.read_iceberg_table(spark, export_iceberg_table(t, dest)), ("k", "v"))
    assert got == want
    copies = os.path.join(dest, "metadata", "position-deletes")
    # a delete file holding no row has no path to rewrite
    assert len(os.listdir(copies)) == sum(1 for uris in written.values() if uris)
    for name in os.listdir(copies):
        paths = pq.read_table(os.path.join(copies, name)).column("file_path").to_pylist()
        assert paths and not any(p.startswith("file:") for p in paths)
    # the table's own delete files are left as written
    for path, uris in written.items():
        assert pq.read_table(path).column("file_path").to_pylist() == uris
