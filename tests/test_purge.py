"""History purge (right-to-be-forgotten) — lakehouse/maintenance.py::purge_rows.

The contract: after a purge no read path — current scan, time travel to ANY
retained snapshot, the change feed — can produce a matching row; every
non-matching row and the history shape (ids, refs, snapshot count) are
untouched; untouched files are byte-identical; and incremental consumers
are forced to resync by the audit replace snapshot.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from pyiceberg_lakehouse_spark.lakehouse import Lakehouse, mor
from pyiceberg_lakehouse_spark.lakehouse.maintenance import purge_rows
from pyiceberg_lakehouse_spark.lakehouse.stats import file_row_count
from pyiceberg_lakehouse_spark.sources.testdata import SCHEMAS, load_table

SF = "/root/testdata/sf0.001"


def _orders_table(spark, warehouse, **props):
    lh = Lakehouse(spark, warehouse)
    t = lh.create_table("ns.purge_t", SCHEMAS["orders"], properties=props or None)
    orders = load_table(spark, SF, "orders")
    t.append(orders.filter(F.col("o_orderkey") % 2 == 0))
    t.append(orders.filter(F.col("o_orderkey") % 2 == 1))
    return t, orders


def test_purge_erases_from_current_and_history(spark, warehouse):
    t, orders = _orders_table(spark, warehouse)
    old_snap = t.log.snapshots[1].snapshot_id  # after the first append
    victims = F.col("o_custkey") == 7
    n_history = len(t.log.snapshots)
    out = purge_rows(t, victims)
    assert out["rows_purged"] > 0 and out["files_rewritten"] > 0
    # audit snapshot appended; prior ids intact
    assert len(t.log.snapshots) == n_history + 1
    assert t.log.snapshots[-1].summary["op"] == "purge_rows"
    # current state: gone, and the survivors are exactly the non-victims
    assert t.scan().filter(victims).count() == 0
    expect = orders.filter(~victims)
    assert t.scan().exceptAll(expect).count() == 0
    assert expect.exceptAll(t.scan()).count() == 0
    # time travel cannot resurrect them
    assert t.scan(snapshot_id=old_snap).filter(victims).count() == 0
    surv = orders.filter((F.col("o_orderkey") % 2 == 0) & ~victims)
    assert t.scan(snapshot_id=old_snap).exceptAll(surv).count() == 0
    assert surv.exceptAll(t.scan(snapshot_id=old_snap)).count() == 0


def test_purge_leaves_unmatched_files_byte_identical(spark, warehouse):
    t, _ = _orders_table(spark, warehouse)
    before = {
        f["path"]: os.path.getmtime(f["path"]) for f in t.log.live_files()
    }
    # victims isolated to one orderkey: most files hold none
    out = purge_rows(t, F.col("o_orderkey") == 4)
    untouched = [p for p in before if os.path.exists(p)]
    assert untouched, "some files must survive"
    for p in untouched:
        assert os.path.getmtime(p) == before[p]
    assert out["files_rewritten"] >= 1
    assert len(untouched) == len(before) - out["files_rewritten"]


def test_purge_scrubs_change_data_feed(spark, warehouse):
    t, _ = _orders_table(spark, warehouse, **{"change-data-feed": "true"})
    cursor = t.log.current_snapshot_id()
    t.update_where(
        F.col("o_custkey") == 7,
        {"o_totalprice": F.col("o_totalprice") + 1.0},
    )
    feed = t.table_changes(cursor)
    assert feed.filter(F.col("o_custkey") == 7).count() > 0
    out = purge_rows(t, F.col("o_custkey") == 7)
    assert out["change_files_rewritten"] >= 1
    # the feed (read via the fallback diff after the audit replace) and
    # the raw change files are both scrubbed
    assert t.table_changes(cursor).filter(F.col("o_custkey") == 7).count() == 0
    for s in t.log.snapshots:
        for f in s.summary.get("change-data-files") or []:
            got = spark.read.parquet(f["path"])
            assert got.filter(F.col("o_custkey") == 7).count() == 0


def test_purge_forces_rollup_full_recompute(spark, warehouse):
    from pyiceberg_lakehouse_spark.lakehouse.rollup import (
        create_rollup,
        read_rollup,
        refresh_rollup,
    )

    t, orders = _orders_table(spark, warehouse)
    lh = Lakehouse(spark, warehouse)
    r = create_rollup(
        lh, t, "ns.purge_ru", ["o_orderstatus"], [("*", "count")]
    )
    purge_rows(t, F.col("o_custkey") == 7)
    assert refresh_rollup(r, t)["mode"] == "full"
    got = {x.o_orderstatus: x.cnt_rows for x in read_rollup(r).collect()}
    expect = {
        x.o_orderstatus: x.n
        for x in orders.filter(F.col("o_custkey") != 7)
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == expect


def test_purge_no_matches_is_a_noop(spark, warehouse):
    t, _ = _orders_table(spark, warehouse)
    n = len(t.log.snapshots)
    out = purge_rows(t, F.col("o_custkey") == -1)
    assert out == {"files_rewritten": 0, "files_dropped": 0, "rows_purged": 0}
    assert len(t.log.snapshots) == n  # no audit noise for a no-op


def test_purge_gates_on_mor_and_evolution(spark, warehouse):
    t, _ = _orders_table(spark, warehouse)
    t.delete_keys(
        spark.createDataFrame([(2,)], "o_orderkey int"), ["o_orderkey"]
    )
    with pytest.raises(NotImplementedError, match="merge-on-read"):
        purge_rows(t, F.col("o_custkey") == 7)

    lh = Lakehouse(spark, warehouse)
    t2 = lh.create_table("ns.purge_t2", SCHEMAS["orders"])
    t2.append(load_table(spark, SF, "orders"))
    t2.rename_column("o_orderpriority", "prio")
    with pytest.raises(NotImplementedError, match="schema-evolution"):
        purge_rows(t2, F.col("o_custkey") == 7)


def test_purge_null_predicate_keeps_row(spark, warehouse):
    """A NULL predicate result must KEEP the row (it is not a match) —
    mirrors delete_where's NULL semantics."""
    lh = Lakehouse(spark, warehouse)
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "x")], "id long, tag string"
    )
    t = lh.create_table("ns.purge_null", df.schema)
    t.append(df)
    purge_rows(t, F.col("tag") == "x")
    got = sorted((r.id, r.tag) for r in t.scan().collect())
    assert got == [(1, "a"), (2, None)]


def test_purge_scrubs_mor_delete_files_on_key_predicate(spark, warehouse):
    """A key-column purge over MoR history must also erase the subject's
    key from delete files (the stored key VALUES are the PII), without
    resurrecting any other deleted key."""
    t, orders = _orders_table(spark, warehouse)
    t.delete_keys(
        spark.createDataFrame([(2,), (4,)], "o_orderkey int"), ["o_orderkey"]
    )
    out = purge_rows(t, F.col("o_orderkey").isin([2, 6]))
    assert out["rows_purged"] > 0
    # subject gone from data AND from every delete file's key values
    assert t.scan().filter(F.col("o_orderkey").isin([2, 6])).count() == 0
    for s in t.log.snapshots:
        for d in s.added_deletes:
            keys = spark.read.parquet(d["path"])
            assert keys.filter(F.col("o_orderkey") == 2).count() == 0
    # the OTHER deleted key stays deleted (no resurrection)
    assert t.scan().filter(F.col("o_orderkey") == 4).count() == 0
    # and a non-deleted, non-purged row is untouched
    assert t.scan().filter(F.col("o_orderkey") == 1).count() == 1


def test_purge_on_shallow_clone_never_unlinks_source_bytes(spark, warehouse):
    """purge_rows on a clone rewrites the CLONE's view but must not unlink
    the shared bytes the source still references; the skipped count is
    recorded for erasure auditing."""
    from pyiceberg_lakehouse_spark.lakehouse.maintenance import shallow_clone

    t, orders = _orders_table(spark, warehouse)
    lh = Lakehouse(spark, warehouse)
    clone = shallow_clone(lh, t, "ns.purge_clone")
    src_before = {
        (r.o_orderkey, r.o_custkey) for r in t.scan().collect()
    }
    out = purge_rows(clone, F.col("o_custkey") == 7)
    assert out["rows_purged"] > 0
    # clone purged...
    assert clone.scan().filter(F.col("o_custkey") == 7).count() == 0
    # ...but the source is bit-for-bit intact (its files were shared)
    assert {
        (r.o_orderkey, r.o_custkey) for r in t.scan().collect()
    } == src_before
    assert clone.log.snapshots[-1].summary["shared_files_kept"] > 0


def _rows(df):
    return {(r.o_orderkey, r.o_custkey) for r in df.collect()}


def test_purge_over_position_delete_history(spark, warehouse):
    """r17 (VERDICT r16 task #8): purge with POSITION-delete files in
    history. The rewrite preserves survivor order, delete rows remap to
    the new (path, ordinal), and every read path — head scan and time
    travel to each snapshot — shows the historical delete state minus
    the subject."""
    t, orders = _orders_table(spark, warehouse)
    pre_delete_snap = t.log.current_snapshot_id()
    t.delete_where_positions(F.col("o_orderkey") % 10 == 3)
    post_delete_snap = t.log.current_snapshot_id()

    all_rows = _rows(orders.select("o_orderkey", "o_custkey"))
    pos_deleted = {r for r in all_rows if r[0] % 10 == 3}
    subject = {r for r in all_rows if r[1] == 7}
    assert subject and pos_deleted
    assert subject & pos_deleted, "fixture must exercise the overlap"

    out = purge_rows(t, F.col("o_custkey") == 7)
    # rows_purged counts subject rows physically present in matched
    # data files — position-deleted subject rows are still bytes on
    # disk that the purge erases, so the exact count is len(subject)
    assert out["rows_purged"] == len(subject)
    # head: position deletes still applied, subject gone
    assert _rows(t.scan().select("o_orderkey", "o_custkey")) == \
        all_rows - pos_deleted - subject
    # time travel BEFORE the position delete: everything minus subject
    assert _rows(
        t.scan(snapshot_id=pre_delete_snap).select(
            "o_orderkey", "o_custkey")
    ) == all_rows - subject
    # time travel AT the position delete: deletes applied, minus subject
    assert _rows(
        t.scan(snapshot_id=post_delete_snap).select(
            "o_orderkey", "o_custkey")
    ) == all_rows - pos_deleted - subject
    # remapped delete files reference only LIVE files with valid
    # ordinals (every stored (path, pos) resolves inside the file)
    pos_files = [
        d["path"]
        for s in t.log.snapshots
        for d in s.added_deletes
        if d.get("kind") == "position"
    ]
    refs = [
        (mor.plain_path(r["file_path"]), r["pos"])
        for r in spark.read.parquet(*pos_files).collect()
    ]
    assert refs
    for path in {p for p, _ in refs}:
        assert os.path.exists(path), path
    n_rows = {p: file_row_count(p) for p, _ in refs}
    for path, pos in refs:
        assert 0 <= pos < n_rows[path], (path, pos, n_rows[path])


@pytest.mark.slow
def test_purge_retires_position_entries_of_purged_targets(
    spark, warehouse
):
    """Purging rows that were ALREADY position-deleted retires their
    delete entries (nothing remains to un-delete) instead of leaving
    dangling ordinals."""
    t, orders = _orders_table(spark, warehouse)
    t.delete_where_positions(F.col("o_orderkey").isin([2, 4, 6]))
    before_entries = sum(
        spark.read.parquet(d["path"]).count()
        for s in t.log.snapshots
        for d in s.added_deletes
    )
    assert before_entries == 3
    purge_rows(t, F.col("o_orderkey").isin([2, 4]))
    after_entries = sum(
        spark.read.parquet(d["path"]).count()
        for s in t.log.snapshots
        for d in s.added_deletes
    )
    assert after_entries == 1  # only the key-6 entry survives
    all_rows = _rows(orders.select("o_orderkey", "o_custkey"))
    assert _rows(t.scan().select("o_orderkey", "o_custkey")) == {
        r for r in all_rows if r[0] not in (2, 4, 6)
    }


def test_purge_position_history_whole_file_gone(spark, warehouse):
    """A purge that erases EVERY row of a position-referenced file
    retires the file and all delete entries pointing at it."""
    t, orders = _orders_table(spark, warehouse)
    # first append held evens; delete a few of them by position
    t.delete_where_positions(F.col("o_orderkey").isin([2, 4]))
    out = purge_rows(t, F.col("o_orderkey") % 2 == 0)
    assert out["files_dropped"] >= 1
    all_rows = _rows(orders.select("o_orderkey", "o_custkey"))
    assert _rows(t.scan().select("o_orderkey", "o_custkey")) == {
        r for r in all_rows if r[0] % 2 == 1
    }
    for s in t.log.snapshots:
        for d in s.added_deletes:
            assert spark.read.parquet(d["path"]).count() == 0 or \
                not os.path.exists(d["path"])


def test_purge_position_history_then_expire(spark, warehouse):
    """The verdict's 'Done' pin: after a position-history purge,
    expire_snapshots still works and time travel to the retained head
    keeps the delete semantics."""
    from pyiceberg_lakehouse_spark.lakehouse.maintenance import (
        expire_snapshots,
    )

    t, orders = _orders_table(spark, warehouse)
    t.delete_where_positions(F.col("o_orderkey") % 10 == 3)
    purge_rows(t, F.col("o_custkey") == 7)
    expire_snapshots(t, keep_last=2)
    all_rows = _rows(orders.select("o_orderkey", "o_custkey"))
    want = {r for r in all_rows if r[0] % 10 != 3 and r[1] != 7}
    assert _rows(t.scan().select("o_orderkey", "o_custkey")) == want


def test_purge_null_predicate_over_position_history(spark, warehouse):
    """r18 ADVICE pin: _ordered_purge_rewrite under three-valued logic.
    A nullable predicate column where some rows evaluate NULL must KEEP
    those rows in the rewritten file AND keep every surviving
    position-delete ordinal aligned — a NULL row silently dropped from
    both the purged and kept sets would shift every later ordinal."""
    lh = Lakehouse(spark, warehouse)
    df = spark.createDataFrame(
        [(i, None if i % 3 == 0 else ("pii" if i % 3 == 1 else "ok"))
         for i in range(30)],
        "id long, tag string",
    )
    t = lh.create_table("ns.purge_null_pos", df.schema)
    t.append(df.coalesce(1).sortWithinPartitions("id"))
    # position-delete a few rows, including ones AFTER null-tag rows
    t.delete_where_positions(F.col("id").isin([5, 14, 23]))
    out = purge_rows(t, F.col("tag") == "pii")
    assert out["rows_purged"] == sum(1 for i in range(30) if i % 3 == 1)
    got = sorted(r.id for r in t.scan().collect())
    want = sorted(
        i for i in range(30)
        if i % 3 != 1 and i not in (5, 14, 23)
    )
    assert got == want, "NULL-tag rows must survive; deletes must remap"
    # and the NULL rows specifically are all present
    nulls = sorted(
        r.id for r in t.scan().filter(F.col("tag").isNull()).collect()
    )
    assert nulls == [i for i in range(30)
                     if i % 3 == 0 and i not in (5, 14, 23)]


@pytest.mark.slow
def test_batched_ordered_rewrite_many_files(spark, warehouse):
    """r18 (VERDICT r17 task #6): a subject spread across MANY
    position-referenced files rewrites in one batched job — each
    source yields exactly one ordered replacement file, ordinals
    remap identically to the sequential path."""
    lh = Lakehouse(spark, warehouse)
    df = spark.createDataFrame(
        [(i, i % 25, f"t{i}") for i in range(500)],
        "id long, cust long, tag string",
    )
    t = lh.create_table("ns.purge_many", df.schema)
    # 10 separate appends -> >= 10 data files, subject in every one
    for k in range(10):
        t.append(
            df.filter(F.col("id") % 10 == k)
            .coalesce(1).sortWithinPartitions("id")
        )
    t.delete_where_positions(F.col("id") % 7 == 3)
    n_files_before = len(t.log.live_files())
    assert n_files_before >= 10
    # subject id % 9 == 2 spans every one of the 10 residue files
    out = purge_rows(t, F.col("id") % 9 == 2)
    assert out["files_rewritten"] == 10
    assert out["rows_purged"] == sum(
        1 for i in range(500) if i % 9 == 2
    )
    got = sorted(r.id for r in t.scan().collect())
    want = sorted(
        i for i in range(500) if i % 9 != 2 and i % 7 != 3
    )
    assert got == want
    # order preserved inside every rewritten file
    for f in t.log.live_files():
        ids = [
            r.id for r in spark.read.parquet(f["path"])
            .select("id").collect()
        ]
        assert ids == sorted(ids)


def test_over_cap_purge_leaves_no_orphan_files(spark, warehouse):
    """The over-cap refusal must leave no never-committed purge-*
    directory in the table's data dir."""
    import glob

    from pyiceberg_lakehouse_spark.lakehouse.maintenance import (
        _ordered_purge_rewrite,
    )

    t, _ = _orders_table(spark, warehouse)
    entry = t.log.live_files()[0]
    with pytest.raises(NotImplementedError):
        _ordered_purge_rewrite(
            t, [entry], F.col("o_orderkey") % 2 == 0, cap=1
        )
    leaked = glob.glob(os.path.join(t.table_dir, "data", "purge-*"))
    assert leaked == [], leaked
