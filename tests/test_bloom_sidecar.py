"""Bloom bitmaps live in per-file sidecars (``.<name>.bloom``), not in the
snapshot log, and a data file's sidecars leave with it.

Pins the layout (log descriptors without bitmaps, one sidecar per bloomed
file), the read of logs that still hold inline base64 bitmaps, and every
maintenance path that moves or unlinks data files: expiry, purge, orphan
cleanup, shallow clone and rename.
"""

from __future__ import annotations

import base64
import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

from pyiceberg_lakehouse_spark.lakehouse import Lakehouse, bloom
from pyiceberg_lakehouse_spark.lakehouse.bloom import (
    SIDECARS,
    prune_files_bloom,
    prune_files_bloom_any,
    sidecar_path,
)
from pyiceberg_lakehouse_spark.lakehouse.log import decode_log
from pyiceberg_lakehouse_spark.lakehouse.maintenance import (
    expire_snapshots,
    purge_rows,
    remove_orphan_files,
    shallow_clone,
)
from pyiceberg_lakehouse_spark.lakehouse.table import LakehouseTable

KV = T.StructType(
    [T.StructField("k", T.LongType()), T.StructField("v", T.StringType())]
)
# three appends of disjoint key ranges: one file each, so a key's bloom
# keeps its own file and the other files' blooms prune it
RANGES = [(0, 40), (100, 140), (200, 240)]


def _rows(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), F.col("id").cast("string").alias("v")
    )


def _bloom_table(spark, warehouse, name="ns.sidecar"):
    lh = Lakehouse(spark, warehouse)
    t = lh.create_table(name, KV, properties={"write.bloom-columns": "k"})
    for lo, hi in RANGES:
        t.append(_rows(spark, lo, hi).coalesce(1))
    return lh, t


def _keys():
    return [k for lo, hi in RANGES for k in range(lo, hi)]


def _stray_sidecars(root):
    """Sidecars under ``root`` whose parquet file is gone."""
    return sorted(
        os.path.join(d, f)
        for d, _, fs in os.walk(root)
        for f in fs
        if f.startswith(".")
        and f.endswith(tuple(f".parquet{s}" for s in SIDECARS))
        and not os.path.exists(os.path.join(d, f[1:].rsplit(".", 1)[0]))
    )


def _file_keys(spark, f):
    return {r.k for r in spark.read.parquet(f["path"]).select("k").collect()}


def _assert_prunes(spark, files):
    """No false negative: every key a file holds probes present in its
    bitmap (one hash job per file). A probe of one key keeps the file
    holding it and prunes some other."""
    for f in files:
        b = f["bloom"]["k"]
        keys = sorted(_file_keys(spark, f))
        shape = (b["m"], b["k"])
        pos = bloom.probe_positions_many(spark, keys, [shape], b["type"])[shape]
        bits = bloom._bitmap(f["path"], b)
        assert all(bloom.might_contain(bits, pos[k]) for k in keys), f["path"]
    for f in files:
        k = min(_file_keys(spark, f))
        kept = prune_files_bloom(spark, files, {"k": k})
        assert f in kept and len(kept) < len(files), k


def test_entries_carry_descriptors_and_each_file_its_sidecar(spark, warehouse):
    _, t = _bloom_table(spark, warehouse)
    files = t.log.live_files()
    assert len(files) == len(RANGES)
    for f in files:
        b = f["bloom"]["k"]
        assert set(b) == {"m", "k", "type", "off"}
        assert b["off"] == 0
        assert os.path.getsize(sidecar_path(f["path"])) == (b["m"] + 7) // 8
    # the log itself holds no bitmap
    entries = [os.path.join(t.log.entry_dir, n) for n in os.listdir(t.log.entry_dir)]
    for path in [t.log.path, *entries]:
        with open(path, "rb") as fh:
            assert b'"bits"' not in decode_log(fh.read(), path)
    _assert_prunes(spark, files)
    # the pruned scan reads the kept files only and returns the key's row
    assert t.scan(bloom_filter={"k": 105}).filter(F.col("k") == 105).count() == 1
    # a file whose sidecar is gone is kept: skipping stays conservative
    os.unlink(sidecar_path(files[0]["path"]))
    assert files[0] in prune_files_bloom(spark, files, {"k": 205})
    assert files[0] in prune_files_bloom_any(spark, files, "k", [205])


def test_log_with_inline_bitmaps_still_probes(spark, warehouse):
    """A log written before sidecars holds each bitmap as base64 ``bits``
    in the descriptor; it probes with no false negatives."""
    _, t = _bloom_table(spark, warehouse)
    for s in t.log.snapshots:
        for f in s.added_files:
            with open(sidecar_path(f["path"]), "rb") as fh:
                bits = fh.read()
            b = f["bloom"]["k"]
            f["bloom"]["k"] = {
                "m": b["m"], "k": b["k"], "type": b["type"],
                "bits": base64.b64encode(bits).decode("ascii"),
            }
            os.unlink(sidecar_path(f["path"]))
    t.log._write()
    files = LakehouseTable(spark, t.table_dir).log.live_files()
    assert all("bits" in f["bloom"]["k"] for f in files)
    _assert_prunes(spark, files)
    kept = prune_files_bloom_any(spark, files, "k", [5, 999])
    assert files[0] in kept and len(kept) < len(files)


def test_expire_leaves_no_sidecar_without_its_file(spark, warehouse):
    _, t = _bloom_table(spark, warehouse)
    old = [f["path"] for f in t.log.live_files()]
    # Spark's local filesystem writes a .crc beside every data file
    assert all(os.path.exists(sidecar_path(p, ".crc")) for p in old)
    t.overwrite(_rows(spark, 50, 60).coalesce(1))
    removed = expire_snapshots(t, keep_last=1)
    assert set(old) <= set(removed)
    for p in old:
        assert not any(os.path.exists(sidecar_path(p, s)) for s in SIDECARS)
    assert _stray_sidecars(t.table_dir) == []
    (live,) = t.log.live_files()
    assert os.path.exists(sidecar_path(live["path"]))
    assert t.scan(bloom_filter={"k": 55}).filter(F.col("k") == 55).count() == 1


def test_purge_drops_replaced_sidecars_and_replacements_probe(spark, warehouse):
    _, t = _bloom_table(spark, warehouse)
    before = [f["path"] for f in t.log.live_files()]
    # a position delete in the first file sends it through the order-
    # preserving rewrite; the second file takes the plain rewrite
    t.delete_where_positions(F.col("k") == 3)
    purge_rows(t, F.col("k").isin(7, 107))
    after = t.log.live_files()
    replaced = [p for p in before if p not in {f["path"] for f in after}]
    assert len(replaced) == 2
    for p in replaced:
        assert not os.path.exists(p)
        assert not any(os.path.exists(sidecar_path(p, s)) for s in SIDECARS)
    assert _stray_sidecars(t.table_dir) == []
    for f in after:
        assert os.path.exists(sidecar_path(f["path"]))
    _assert_prunes(spark, after)
    for k in (3, 7, 107):
        assert t.scan(bloom_filter={"k": k}).filter(F.col("k") == k).count() == 0


def test_shallow_clone_and_rename_prune_by_bloom(spark, warehouse):
    lh, t = _bloom_table(spark, warehouse, "ns.src")
    clone = shallow_clone(lh, t, "ns.clone")
    files = clone.log.live_files()
    assert {f["path"] for f in files} == {f["path"] for f in t.log.live_files()}
    _assert_prunes(spark, files)
    assert clone.scan(bloom_filter={"k": 230}).filter(F.col("k") == 230).count() == 1

    lh.rename_table("ns.src", "ns.moved")
    moved = lh.load_table("ns.moved")
    files = moved.log.live_files()
    assert all(f["path"].startswith(moved.table_dir + os.sep) for f in files)
    assert all(os.path.exists(sidecar_path(f["path"])) for f in files)
    _assert_prunes(spark, files)
    assert moved.scan(bloom_filter={"k": 130}).filter(F.col("k") == 130).count() == 1


def test_remove_orphan_files_sweeps_sidecars_of_uncommitted_writes(spark, warehouse):
    _, t = _bloom_table(spark, warehouse)
    committed = [f["path"] for f in t.log.live_files()]
    # a writer that wrote files and sidecars but died before its commit;
    # one of its files is already gone, its sidecars left behind
    entries = t._write_data(_rows(spark, 300, 340).repartition(2))
    assert len(entries) == 2
    assert all(os.path.exists(sidecar_path(e["path"])) for e in entries)
    gone, dead = entries[0]["path"], entries[1]["path"]
    os.unlink(gone)
    stray = [sidecar_path(gone, s) for s in SIDECARS]
    assert _stray_sidecars(t.table_dir) == sorted(stray)
    # the age guard protects them like any in-flight write
    assert remove_orphan_files(t) == []
    assert sorted(remove_orphan_files(t, older_than_s=0)) == sorted([dead, *stray])
    assert _stray_sidecars(t.table_dir) == []
    assert not os.path.exists(dead)
    for p in committed:
        assert os.path.exists(p) and os.path.exists(sidecar_path(p))
    assert t.scan().count() == len(_keys())
