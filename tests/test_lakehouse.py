"""Lakehouse lifecycle properties (SURVEY.md §5.3).

N appends => N snapshots; transactional append => 1; time travel returns the
pre-append state; add_files moves no data; overwrite resets; compaction
preserves rows while reducing files; expiry deletes only unreachable files.
"""

import os

import pytest
from pyspark.sql import functions as F

from pyiceberg_lakehouse_spark.lakehouse import Lakehouse
from pyiceberg_lakehouse_spark.lakehouse.maintenance import compact, expire_snapshots
from pyiceberg_lakehouse_spark.sources.testdata import SCHEMAS, load_table


@pytest.fixture()
def nation_chunks(spark, sf_dir):
    nation = load_table(spark, sf_dir, "nation")
    return nation, [
        nation.filter(F.col("n_regionkey") < 2),
        nation.filter(F.col("n_regionkey") == 2),
        nation.filter(F.col("n_regionkey") > 2),
    ]


def test_append_per_call_snapshots(spark, warehouse, nation_chunks):
    nation, chunks = nation_chunks
    lh = Lakehouse(spark, warehouse)
    t = lh.create_table("ns.nation", SCHEMAS["nation"])
    for c in chunks:
        t.append(c)
    # create + 3 appends, mirroring one-snapshot-per-file (main-daft.py:137)
    assert [s.operation for s in t.history()] == ["create", "append", "append", "append"]
    assert t.scan().count() == nation.count()


def test_transactional_append_one_snapshot(spark, warehouse, nation_chunks):
    nation, chunks = nation_chunks
    lh = Lakehouse(spark, warehouse)
    t = lh.create_table("ns.nation_txn", SCHEMAS["nation"])
    t.append_many(chunks)
    # one snapshot for the whole batch (main-polars.py:165-186)
    assert [s.operation for s in t.history()] == ["create", "append"]
    assert t.scan().count() == nation.count()


def test_time_travel(spark, warehouse, nation_chunks):
    _, chunks = nation_chunks
    lh = Lakehouse(spark, warehouse)
    t = lh.create_table("ns.nation_tt", SCHEMAS["nation"])
    s1 = t.append(chunks[0])
    t.append(chunks[1])
    n_first = chunks[0].count()
    assert t.read_snapshot(s1.snapshot_id).count() == n_first
    assert t.scan().count() == n_first + chunks[1].count()


def test_add_files_moves_no_data(spark, warehouse, sf_dir):
    lh = Lakehouse(spark, warehouse)
    t = lh.create_table("ns.region", SCHEMAS["region"])
    src = f"{sf_dir}/region.parquet"
    mtime = os.path.getmtime(src)
    t.add_files([src])
    # scan sees the rows; the source file was not copied into the warehouse
    assert t.scan().count() == 5
    assert os.path.getmtime(src) == mtime
    data_dir = os.path.join(t.table_dir, "data")
    assert not os.path.exists(data_dir) or not os.listdir(data_dir)


def test_overwrite_resets_state(spark, warehouse, nation_chunks):
    nation, chunks = nation_chunks
    lh = Lakehouse(spark, warehouse)
    t = lh.create_table("ns.nation_ow", SCHEMAS["nation"])
    t.append(nation)
    t.overwrite(chunks[0])
    assert t.scan().count() == chunks[0].count()
    assert t.history()[-1].operation == "overwrite"


def test_partitioned_roundtrip_values(spark, warehouse, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    lh = Lakehouse(spark, warehouse)
    t = lh.create_table("ns.orders", SCHEMAS["orders"], partition_by=["o_orderstatus"])
    t.append(orders)
    back = t.scan()
    assert back.count() == orders.count()
    # values (incl. the partition column) survive the hive roundtrip
    a = {tuple(r) for r in orders.select("o_orderkey", "o_orderstatus").collect()}
    b = {tuple(r) for r in back.select("o_orderkey", "o_orderstatus").collect()}
    assert a == b


def test_partition_pruned_scan(spark, warehouse, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    lh = Lakehouse(spark, warehouse)
    t = lh.create_table("ns.orders_p", SCHEMAS["orders"], partition_by=["o_orderstatus"])
    t.append(orders)
    pruned = t.scan(partition_filter={"o_orderstatus": "O"})
    expected = orders.filter(F.col("o_orderstatus") == "O").count()
    assert pruned.count() == expected
    # pruning happened on the metadata file list, before Spark planned it
    live = t.log.live_files()
    o_files = [f for f in live if f["partition"].get("o_orderstatus") == "O"]
    assert len(o_files) < len(live)


def test_compaction_preserves_rows(spark, warehouse, nation_chunks):
    nation, chunks = nation_chunks
    lh = Lakehouse(spark, warehouse)
    t = lh.create_table("ns.nation_c", SCHEMAS["nation"])
    for c in chunks:
        t.append(c)
    before_files = len(t.log.live_files())
    snap = compact(t, target_file_bytes=64 * 1024 * 1024)
    assert snap.operation == "replace"
    assert len(t.log.live_files()) <= before_files
    assert t.scan().count() == nation.count()


def test_expire_snapshots_deletes_orphans(spark, warehouse, nation_chunks):
    nation, chunks = nation_chunks
    lh = Lakehouse(spark, warehouse)
    t = lh.create_table("ns.nation_e", SCHEMAS["nation"])
    t.append(nation)
    first_files = [f["path"] for f in t.log.live_files()]
    t.overwrite(chunks[0])
    deleted = expire_snapshots(t, keep_last=1)
    assert set(deleted) == set(first_files)
    for p in deleted:
        assert not os.path.exists(p)
    assert t.scan().count() == chunks[0].count()


def test_concurrent_commit_detection(spark, warehouse, nation_chunks):
    """Strict single-writer mode (retries=0) still surfaces the conflict;
    the default append rebase-retries instead (see the next test)."""
    _, chunks = nation_chunks
    lh = Lakehouse(spark, warehouse)
    t = lh.create_table("ns.nation_cc", SCHEMAS["nation"])
    stale = lh.load_table("ns.nation_cc")  # second handle, same table
    t.append(chunks[0])
    with pytest.raises(RuntimeError, match="concurrent commit"):
        stale.append(chunks[1], retries=0)


def test_append_retry_resolves_conflict(spark, warehouse, nation_chunks):
    """A stale handle's append succeeds with retries: it refreshes to the
    winner's log and re-commits; both writers' rows land, in order."""
    nation, chunks = nation_chunks
    lh = Lakehouse(spark, warehouse)
    t = lh.create_table("ns.nation_mw", SCHEMAS["nation"])
    stale = lh.load_table("ns.nation_mw")
    t.append(chunks[0])
    snap = stale.append(chunks[1], retries=3)  # stale view -> conflict -> retry
    assert snap.snapshot_id == 3  # create, append, append
    assert stale.scan().count() == chunks[0].count() + chunks[1].count()


def test_overwrite_conflict_never_retries(spark, warehouse, nation_chunks):
    """Non-commutative ops must surface conflicts even when retries are
    requested at the log layer."""
    _, chunks = nation_chunks
    lh = Lakehouse(spark, warehouse)
    t = lh.create_table("ns.nation_ow", SCHEMAS["nation"])
    stale = lh.load_table("ns.nation_ow")
    t.append(chunks[0])
    files = stale._write_data(chunks[1])
    with pytest.raises(RuntimeError, match="concurrent commit"):
        stale.log.commit("overwrite", files, retry_conflicts=3)


def test_commit_lock_breaks_stale_lock(spark, warehouse, nation_chunks):
    """A dead writer's abandoned lock file older than the staleness bound is
    broken instead of deadlocking every future commit."""
    import os as _os
    import time as _time

    _, chunks = nation_chunks
    lh = Lakehouse(spark, warehouse)
    t = lh.create_table("ns.nation_lk", SCHEMAS["nation"])
    lock = _os.path.join(t.table_dir, ".commit.lock")
    with open(lock, "w") as f:
        f.write("99999")
    old = _time.time() - 600
    _os.utime(lock, (old, old))
    t.append(chunks[0])  # breaks the stale lock and commits
    assert t.scan().count() == chunks[0].count()


def test_incremental_read_returns_only_delta(spark, warehouse, nation_chunks):
    nation, chunks = nation_chunks
    lh = Lakehouse(spark, warehouse)
    t = lh.create_table("ns.nation_inc", SCHEMAS["nation"])
    s1 = t.append(chunks[0])
    t.append(chunks[1])
    s3 = t.append(chunks[2])
    inc = t.read_incremental(from_snapshot=s1.snapshot_id)
    assert inc.count() == chunks[1].count() + chunks[2].count()
    # bounded upper end: only the second append
    mid = t.read_incremental(from_snapshot=s1.snapshot_id, to_snapshot=s3.snapshot_id - 1)
    assert mid.count() == chunks[1].count()
    # full-history delta from the create snapshot = the whole table
    assert t.read_incremental(from_snapshot=1).count() == nation.count()


def test_incremental_read_rejects_rewrites(spark, warehouse, nation_chunks):
    _, chunks = nation_chunks
    lh = Lakehouse(spark, warehouse)
    t = lh.create_table("ns.nation_incow", SCHEMAS["nation"])
    s1 = t.append(chunks[0])
    t.overwrite(chunks[1])
    with pytest.raises(ValueError, match="overwrite"):
        t.read_incremental(from_snapshot=s1.snapshot_id)


def test_threaded_writers_all_commit(spark, warehouse, sf_dir):
    """4 threads append concurrently with retries: every commit lands, no
    rows lost, snapshot ids stay dense — the O_EXCL lock serializes the
    check-and-swap and retry absorbs the conflicts."""
    import threading

    orders = load_table(spark, sf_dir, "orders")
    lh = Lakehouse(spark, warehouse)
    lh.create_table("ns.orders_thr", SCHEMAS["orders"])
    chunks = [orders.filter(F.col("o_orderkey") % 4 == i) for i in range(4)]
    errors = []

    def writer(i):
        try:
            handle = lh.load_table("ns.orders_thr")
            handle.append(chunks[i], retries=10)
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(4)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors
    t = lh.load_table("ns.orders_thr")
    assert t.scan().count() == orders.count()
    assert [s.snapshot_id for s in t.log.snapshots] == [1, 2, 3, 4, 5]


def test_metadata_tables_and_count(spark, warehouse, nation_chunks):
    nation, chunks = nation_chunks
    lh = Lakehouse(spark, warehouse)
    t = lh.create_table("ns.nation_md", SCHEMAS["nation"])
    for c in chunks:
        t.append(c)
    # metadata-only count == real count, no scan needed
    assert t.metadata_count() == nation.count()
    files = t.files()
    assert files.count() == len(t.log.live_files())
    assert files.agg({"record_count": "sum"}).collect()[0][0] == nation.count()
    snaps = t.snapshots()
    assert snaps.count() == 4  # create + 3 appends
    assert [r.operation for r in snaps.orderBy("snapshot_id").collect()] == [
        "create", "append", "append", "append",
    ]
    # merge-on-read deletes poison the metadata count (correct refusal)
    t.delete_keys(nation.limit(2), key_cols=["n_nationkey"])
    assert t.metadata_count() is None


def test_rollback_restores_state_as_new_snapshot(spark, warehouse, nation_chunks):
    nation, chunks = nation_chunks
    lh = Lakehouse(spark, warehouse)
    t = lh.create_table("ns.nation_rb", SCHEMAS["nation"])
    s1 = t.append(chunks[0])
    t.append(chunks[1])
    t.delete_keys(chunks[0].limit(1), key_cols=["n_nationkey"])
    n_before = len(t.log.snapshots)
    snap = t.rollback_to(s1.snapshot_id)
    assert len(t.log.snapshots) == n_before + 1  # history preserved
    assert t.scan().count() == chunks[0].count()  # delete + 2nd append undone
    # rolling forward again also works (rollback is just another snapshot)
    t.rollback_to(snap.snapshot_id - 1)
    assert t.scan().count() == chunks[0].count() + chunks[1].count() - 1


def test_delete_where_rewrites_only_overlapping_files(spark, warehouse, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    lh = Lakehouse(spark, warehouse)
    t = lh.create_table(
        "ns.orders_dw",
        SCHEMAS["orders"],
        properties={"write.target-records-per-file": "400"},
    )
    # sort by key so per-file key ranges are tight -> stats can skip files
    t.append(orders.orderBy("o_orderkey"))
    files_before = {f["path"] for f in t.log.live_files()}
    snap = t.delete_where(
        F.col("o_orderkey") < 100, stat_filter={"o_orderkey": ("<", 100)}
    )
    assert snap.summary["rewritten_files"] < len(files_before)
    assert t.scan().filter(F.col("o_orderkey") < 100).count() == 0
    expected = orders.filter(F.col("o_orderkey") >= 100).count()
    assert t.scan().count() == expected
    untouched = files_before & {f["path"] for f in t.log.live_files()}
    assert untouched, "delete_where rewrote files it could have skipped"


@pytest.mark.parametrize("op", ["delete_where", "update_where"])
def test_cow_rewrite_keeps_merge_on_read_deletes(spark, warehouse, nation_chunks, op):
    """A copy-on-write rewrite of a file with live merge-on-read deletes
    must not bring the deleted rows back: its output file is newer than
    the delete, so the delete no longer applies to it."""
    nation, _ = nation_chunks
    lh = Lakehouse(spark, warehouse)
    t = lh.create_table(f"ns.nation_{op}", SCHEMAS["nation"])
    t.append(nation)
    t.delete_keys(nation.filter(F.col("n_nationkey") == 5), ["n_nationkey"])
    hit = F.col("n_nationkey") == 7
    if op == "delete_where":
        t.delete_where(hit)
    else:
        t.update_where(hit, {"n_name": "UPDATED"})
    assert t.scan().filter(F.col("n_nationkey") == 5).count() == 0
    expected = nation.count() - (2 if op == "delete_where" else 1)
    assert t.scan().count() == expected


def test_failed_log_write_keeps_head(tmp_path, monkeypatch):
    """A commit whose log write fails leaves the in-memory head on the
    on-disk snapshot, so the next commit gets the next id."""
    from pyspark.sql import types as T

    from pyiceberg_lakehouse_spark.lakehouse import log as log_mod
    from pyiceberg_lakehouse_spark.lakehouse.log import SnapshotLog

    table_dir = str(tmp_path / "t")
    log = SnapshotLog(table_dir)
    log.init_table(T.StructType([T.StructField("id", T.LongType())]), [])
    log.commit("append", [{"path": "a.parquet"}])
    head = log.current_snapshot_id()

    def fail(*_args, **_kwargs):
        raise OSError("disk full")

    with monkeypatch.context() as m:
        m.setattr(log_mod.os, "replace", fail)
        with pytest.raises(OSError, match="disk full"):
            log.commit("append", [{"path": "b.parquet"}])
    assert log.current_snapshot_id() == head
    assert SnapshotLog(table_dir).load().current_snapshot_id() == head
    assert log.commit("append", [{"path": "b.parquet"}]).snapshot_id == head + 1
    assert SnapshotLog(table_dir).load().current_snapshot_id() == head + 1


def test_catalog_list_and_rename(spark, warehouse, nation_chunks):
    nation, chunks = nation_chunks
    lh = Lakehouse(spark, warehouse)
    t = lh.create_table("ns.nation_a", SCHEMAS["nation"])
    t.append(chunks[0])
    lh.create_table("ns2.nation_b", SCHEMAS["nation"])
    assert "ns" in lh.list_namespaces() and "ns2" in lh.list_namespaces()
    assert lh.list_tables("ns") == ["nation_a"]
    lh.rename_table("ns.nation_a", "ns2.renamed")
    assert lh.list_tables("ns") == []
    assert "renamed" in lh.list_tables("ns2")
    moved = lh.load_table("ns2.renamed")
    assert moved.scan().count() == chunks[0].count()  # data paths rewritten
    with pytest.raises(FileNotFoundError):
        lh.load_table("ns.nation_a")


def test_tags_and_as_of_timestamp(spark, warehouse, sf_dir):
    """Tags pin state by name; as-of-timestamp resolves between commits."""
    from pyiceberg_lakehouse_spark.sources.testdata import SCHEMAS, load_table

    lh = Lakehouse(spark, warehouse)
    t = lh.create_table("ns.orders_refs", SCHEMAS["orders"])
    orders = load_table(spark, sf_dir, "orders")
    t.append(orders.limit(100))
    t.tag("v1")
    ts_after_first = t.log.snapshots[-1].timestamp_ms
    t.append(orders.limit(40))
    assert t.read_tag("v1").count() == 100
    assert t.scan().count() == 140
    # as-of just after the first append resolves to it, not the second
    assert t.read_as_of(ts_after_first).count() == 100
    assert t.read_as_of(t.log.snapshots[-1].timestamp_ms).count() == 140
    # tags survive reload; dropping one removes only the name
    t.log.load()
    assert "v1" in t.log.refs
    t.log.drop_ref("v1")
    import pytest as _pytest

    with _pytest.raises(KeyError):
        t.read_tag("v1")
    with _pytest.raises(KeyError):
        t.read_as_of(0)


def test_remove_orphan_files(spark, warehouse, sf_dir):
    """Crashed-writer debris is deleted; referenced data and young
    (possibly in-flight) files survive."""
    import os
    import time

    from pyiceberg_lakehouse_spark.lakehouse.maintenance import remove_orphan_files
    from pyiceberg_lakehouse_spark.sources.testdata import SCHEMAS, load_table

    lh = Lakehouse(spark, warehouse)
    t = lh.create_table("ns.orders_orph", SCHEMAS["orders"])
    orders = load_table(spark, sf_dir, "orders")
    t.append(orders.limit(100))
    n = t.scan().count()
    orphan_dir = os.path.join(t.table_dir, "data", "commit-dead-beef")
    os.makedirs(orphan_dir)
    old_orphan = os.path.join(orphan_dir, "crashed.parquet")
    orders.limit(5).toPandas().to_parquet(old_orphan)
    os.utime(old_orphan, (time.time() - 7200, time.time() - 7200))
    young_orphan = os.path.join(orphan_dir, "inflight.parquet")
    orders.limit(5).toPandas().to_parquet(young_orphan)

    deleted = remove_orphan_files(t, older_than_s=3600)
    assert deleted == [old_orphan]
    assert os.path.exists(young_orphan)  # age guard protects in-flight writes
    assert t.scan().count() == n  # referenced files untouched


def test_register_sql_views(spark, warehouse, sf_dir):
    from pyiceberg_lakehouse_spark.sources.testdata import SCHEMAS, load_table

    lh = Lakehouse(spark, warehouse)
    t1 = lh.create_table("ns.orders_v", SCHEMAS["orders"])
    t2 = lh.create_table("ns2.nation_v", SCHEMAS["nation"])
    orders = load_table(spark, sf_dir, "orders")
    nation = load_table(spark, sf_dir, "nation")
    t1.append(orders)
    t2.append(nation)
    views = lh.register_sql_views(prefix="lk_")
    assert views == ["lk_ns_orders_v", "lk_ns2_nation_v"]
    got = spark.sql(
        "select count(*) as n from lk_ns_orders_v"
    ).collect()[0].n
    assert got == orders.count()
    joined = spark.sql(
        "select count(*) as n from lk_ns_orders_v o join lk_ns2_nation_v n "
        "on o.o_custkey % 25 = n.n_nationkey"
    ).collect()[0].n
    assert joined == orders.count()


def test_check_constraints(spark, warehouse, sf_dir):
    """CHECK constraints (properties check.<name>) reject violating batches
    before any write; NULL predicates pass (SQL semantics)."""
    from pyiceberg_lakehouse_spark.sources.testdata import SCHEMAS, load_table

    lh = Lakehouse(spark, warehouse)
    t = lh.create_table(
        "ns.orders_ck",
        SCHEMAS["orders"],
        properties={
            "check.positive_price": "o_totalprice > 0",
            "check.known_status": "o_orderstatus in ('O', 'F', 'P')",
        },
    )
    orders = load_table(spark, sf_dir, "orders")
    t.append(orders.limit(100))  # clean data passes
    assert t.scan().count() == 100
    bad = orders.limit(5).withColumn(
        "o_totalprice", F.lit(-1.0).cast("double")
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="positive_price"):
        t.append(bad)
    t.log.load()
    assert t.scan().count() == 100  # nothing committed
    # NULL predicate result passes, per SQL CHECK semantics
    nullish = orders.limit(3).withColumn(
        "o_totalprice", F.lit(None).cast("double")
    )
    t.append(nullish)
    assert t.scan().count() == 103


def test_partitions_metadata_table(spark, warehouse, sf_dir):
    from pyiceberg_lakehouse_spark.sources.testdata import SCHEMAS, load_table

    lh = Lakehouse(spark, warehouse)
    t = lh.create_table(
        "ns.orders_pm", SCHEMAS["orders"], partition_by=["o_orderstatus"]
    )
    orders = load_table(spark, sf_dir, "orders")
    t.append(orders)
    parts = {r.partition["o_orderstatus"]: r for r in t.partitions().collect()}
    expected = {
        r.o_orderstatus: r.n
        for r in orders.groupBy("o_orderstatus").agg(F.count("*").alias("n")).collect()
    }
    assert {k: v.record_count for k, v in parts.items()} == expected
    assert all(v.file_count >= 1 and v.total_bytes > 0 for v in parts.values())
def test_branch_write_isolation(spark, warehouse, sf_dir):
    """Branch commits never touch main; both read their own heads."""
    from pyiceberg_lakehouse_spark.sources.testdata import SCHEMAS, load_table

    lh = Lakehouse(spark, warehouse)
    t = lh.create_table("ns.orders_br", SCHEMAS["orders"])
    orders = load_table(spark, sf_dir, "orders")
    t.append(orders.limit(100))
    dev = t.create_branch("dev")
    dev.append(orders.limit(40))
    assert dev.scan().count() == 140
    t.log.load()
    assert t.scan().count() == 100  # main unaffected
    assert t.branches() == ["dev"]
    # reload by name works
    again = lh.load_table("ns.orders_br", branch="dev")
    assert again.scan().count() == 140


def test_branch_fast_forward(spark, warehouse, sf_dir):
    from pyiceberg_lakehouse_spark.sources.testdata import SCHEMAS, load_table

    lh = Lakehouse(spark, warehouse)
    t = lh.create_table("ns.orders_ff", SCHEMAS["orders"])
    orders = load_table(spark, sf_dir, "orders")
    t.append(orders.limit(100))
    dev = t.create_branch("dev")
    dev.append(orders.limit(25))
    dev.rename_column("o_custkey", "customer_id")
    t.fast_forward("dev")
    assert t.scan().count() == 125
    assert "customer_id" in t.scan().columns  # schema landed too
    t.drop_branch("dev")
    assert t.branches() == []


def test_branch_fast_forward_rejects_divergence(spark, warehouse, sf_dir):
    from pyiceberg_lakehouse_spark.sources.testdata import SCHEMAS, load_table

    lh = Lakehouse(spark, warehouse)
    t = lh.create_table("ns.orders_div", SCHEMAS["orders"])
    orders = load_table(spark, sf_dir, "orders")
    t.append(orders.limit(50))
    dev = t.create_branch("dev")
    dev.append(orders.limit(10))
    t.append(orders.limit(5))  # main moves -> diverged
    with pytest.raises(RuntimeError, match="diverged"):
        t.fast_forward("dev")
    # expiry refuses while branches exist (shared data files)
    from pyiceberg_lakehouse_spark.lakehouse.maintenance import expire_snapshots

    with pytest.raises(RuntimeError, match="branches"):
        expire_snapshots(t, keep_last=1)
    t.drop_branch("dev")
    assert expire_snapshots(t, keep_last=1) is not None



def test_write_audit_publish(spark, warehouse, sf_dir):
    """WAP: audits gate publication; failures leave main byte-identical."""
    from pyiceberg_lakehouse_spark.sources.testdata import SCHEMAS, load_table

    lh = Lakehouse(spark, warehouse)
    t = lh.create_table("ns.orders_wap", SCHEMAS["orders"])
    orders = load_table(spark, sf_dir, "orders")
    base = orders.filter(F.col("o_orderkey") < 1000)
    batch = orders.filter(F.col("o_orderkey") >= 1000)
    n_base, n_batch = base.count(), batch.count()
    assert n_batch > 0
    t.append(base)

    def no_duplicate_keys(df):
        return df.groupBy("o_orderkey").count().filter("count > 1").isEmpty()

    # disjoint batch passes the audit and publishes
    t.write_audit_publish(batch, audits=[no_duplicate_keys])
    assert t.scan().count() == n_base + n_batch
    assert t.branches() == []  # staging branch cleaned up
    # re-publishing the same rows fails the uniqueness audit -> no change
    import pytest as _pytest

    with _pytest.raises(ValueError, match="audit"):
        t.write_audit_publish(batch, audits=[no_duplicate_keys])
    t.log.load()
    assert t.scan().count() == n_base + n_batch
    assert t.branches() == []


def test_partition_values_with_special_characters(spark, warehouse):
    """Partition values containing '/', '=', '%', spaces, or unicode are
    percent-encoded by Spark in hive paths; the snapshot log must store
    the DECODED value or partition pruning silently drops the matching
    file — a wrong-answer bug, since pruning must be a pure optimization."""
    from pyspark.sql import functions as F

    rows = [
        (1, "plain", 10), (2, "has space", 20), (3, "a/b=c", 30),
        (4, "ünïcode", 40), (5, "100%sure", 50),
    ]
    df = spark.createDataFrame(rows, "id long, cat string, val long")
    lh = Lakehouse(spark, warehouse)
    t = lh.create_table("ns.special_parts", df.schema, partition_by=["cat"])
    t.append(df)
    assert t.scan().count() == 5
    for cat in ("plain", "has space", "a/b=c", "ünïcode", "100%sure"):
        got = t.scan(partition_filter={"cat": cat}).filter(
            F.col("cat") == cat
        ).collect()
        assert len(got) == 1, f"partition filter lost rows for {cat!r}"
    # the log's metadata view holds the decoded value (one file per cat)
    cats = sorted(f["partition"]["cat"] for f in t.log.live_files())
    assert cats == sorted(c for _, c, _ in rows)


def test_update_where_rewrites_only_overlapping_files(spark, sf_dir, tmp_path):
    """COW UPDATE: files whose min/max bounds cannot contain matches
    survive byte-identical; matching rows take the SET expressions,
    non-matching rows in rewritten files carry through unchanged."""
    import hashlib
    import uuid
    from pathlib import Path

    from pyspark.sql import functions as F

    from pyiceberg_lakehouse_spark.lakehouse import Lakehouse
    from pyiceberg_lakehouse_spark.sources.testdata import load_table

    orders = load_table(spark, sf_dir, "orders")
    lh = Lakehouse(spark, str(tmp_path / uuid.uuid4().hex))
    t = lh.create_table(
        "ns.orders_uw",
        orders.schema,
        properties={"write.target-records-per-file": "300"},
    )
    t.append(orders.orderBy("o_orderdate"))

    def digests(table):
        return {
            f["path"]: hashlib.sha256(Path(f["path"]).read_bytes()).hexdigest()
            for f in table.log.live_files()
        }

    before = digests(t)
    lo = F.lit("1996-01-01").cast("timestamp_ntz")
    hi = F.lit("1996-04-01").cast("timestamp_ntz")
    t.update_where(
        (F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi),
        {"o_totalprice": F.col("o_totalprice") + 7.0},
        stat_filter={
            "o_orderdate": [
                (">=", "1996-01-01T00:00:00"),
                ("<", "1996-04-01T00:00:00"),
            ],
        },
    )
    after = digests(t)
    survivors = set(before) & set(after)
    assert survivors, "stat pruning kept no files — bounds too loose"
    for p in survivors:
        assert before[p] == after[p]  # byte-identical
    assert set(after) != set(before)  # something was rewritten
    # value semantics vs a plain CASE over the source
    got = {r.o_orderkey: r.o_totalprice for r in t.scan().collect()}
    for r in orders.collect():
        inside = "1996-01-01" <= str(r.o_orderdate) < "1996-04-01"
        want = r.o_totalprice + 7.0 if inside else r.o_totalprice
        assert got[r.o_orderkey] == want


def test_update_where_rejects_unknown_column(spark, sf_dir, tmp_path):
    import uuid

    from pyspark.sql import functions as F

    from pyiceberg_lakehouse_spark.lakehouse import Lakehouse
    from pyiceberg_lakehouse_spark.sources.testdata import load_table

    orders = load_table(spark, sf_dir, "orders")
    lh = Lakehouse(spark, str(tmp_path / uuid.uuid4().hex))
    t = lh.create_table("ns.orders_uw2", orders.schema)
    t.append(orders.limit(10))
    with pytest.raises(ValueError, match="unknown columns"):
        t.update_where(F.col("o_orderkey") > 0, {"nope": 1})


def test_expire_snapshots_tags_are_retention_roots(spark, warehouse, nation_chunks):
    """read_tag promises the same rows forever, so expiry must keep every
    snapshot from the oldest tag forward (and its files on disk) even at
    keep_last=1; dropping the tag releases that history on the next
    expire."""
    nation, chunks = nation_chunks
    lh = Lakehouse(spark, warehouse)
    t = lh.create_table("ns.nation_tag_exp", SCHEMAS["nation"])
    t.append(chunks[0])
    t.tag("v1")
    tagged_rows = t.scan().count()
    tagged_files = [f["path"] for f in t.log.live_files()]
    t.overwrite(chunks[1])
    t.append(chunks[2])

    deleted = expire_snapshots(t, keep_last=1)
    # nothing the tag depends on was deleted, and the tag still replays
    assert not (set(deleted) & set(tagged_files))
    assert t.read_tag("v1").count() == tagged_rows
    for p in tagged_files:
        assert os.path.exists(p)
    # head state untouched
    assert t.scan().count() == chunks[1].count() + chunks[2].count()

    # dropping the tag releases the history: now the old files go away
    t.log.drop_ref("v1")
    deleted2 = expire_snapshots(t, keep_last=1)
    assert set(tagged_files) <= set(deleted2)
    for p in tagged_files:
        assert not os.path.exists(p)
    assert t.scan().count() == chunks[1].count() + chunks[2].count()


def test_delete_where_concurrent_append_elsewhere_rebases(
    spark, warehouse, sf_dir
):
    """Copy-on-write DELETE on a partitioned table: a concurrent append
    into a partition the delete does not rewrite lands first and the
    delete rebase-retries over it (snapshot isolation — the winner's rows
    survive untouched); a concurrent append INTO a rewritten partition
    still conflicts."""
    orders = load_table(spark, sf_dir, "orders")
    lh = Lakehouse(spark, warehouse)
    t = lh.create_table(
        "ns.orders_dw_cc", SCHEMAS["orders"], partition_by=["o_orderstatus"]
    )
    t.append(orders)
    statuses = [r[0] for r in t.scan().select("o_orderstatus").distinct().collect()]
    victim = sorted(statuses)[0]
    other = sorted(statuses)[-1]
    assert victim != other

    # stale handle plans the delete; winner appends into ANOTHER partition
    stale = lh.load_table("ns.orders_dw_cc")
    winner_rows = orders.filter(F.col("o_orderstatus") == other).limit(5)
    t.append(winner_rows)
    pre_other = t.scan().filter(F.col("o_orderstatus") == other).count()
    snap = stale.delete_where(
        (F.col("o_orderstatus") == victim) & (F.col("o_orderkey") % 2 == 0),
        stat_filter={"o_orderstatus": ("=", victim)},
    )
    assert snap.summary["op"] == "delete_where"
    final = lh.load_table("ns.orders_dw_cc")
    # winner's append survived AND the delete applied
    assert final.scan().filter(F.col("o_orderstatus") == other).count() == pre_other
    assert (
        final.scan()
        .filter((F.col("o_orderstatus") == victim) & (F.col("o_orderkey") % 2 == 0))
        .count()
        == 0
    )

    # now the winner appends INTO the partition being rewritten -> error
    stale2 = lh.load_table("ns.orders_dw_cc")
    t2 = lh.load_table("ns.orders_dw_cc")
    t2.append(orders.filter(F.col("o_orderstatus") == victim).limit(3))
    with pytest.raises(RuntimeError, match="concurrent commit"):
        stale2.delete_where(
            F.col("o_orderstatus") == victim,
            stat_filter={"o_orderstatus": ("=", victim)},
        )


def test_table_changes_append_only_fast_path_and_fallback(
    spark, warehouse, nation_chunks
):
    """table_changes: an append-only interval plans inserts from metadata
    (delta files only — no diff, no old-file reads); an interval with a
    merge-on-read delete or an overwrite falls back to the full multiset
    diff and reports the delete rows; equal snapshots diff to empty."""
    nation, chunks = nation_chunks
    lh = Lakehouse(spark, warehouse)
    t = lh.create_table("ns.nation_cdf", SCHEMAS["nation"])
    t.append(chunks[0])
    s0 = t.log.current_snapshot_id()

    # append-only interval: inserts == the appended chunk, no deletes
    t.append(chunks[1])
    ch = t.table_changes(s0)
    assert ch.filter(F.col("_change_type") == "delete").count() == 0
    got = {r.n_nationkey for r in ch.collect()}
    assert got == {r.n_nationkey for r in chunks[1].collect()}
    # the fast path must not read the pre-cursor files: every scanned file
    # was added after the cursor
    planned = {
        f["path"]
        for s in t.log.snapshots
        if s.snapshot_id > s0
        for f in s.added_files
    }
    scanned = {
        r.file.removeprefix("file://")
        for r in ch.select(F.input_file_name().alias("file")).distinct().collect()
    }
    assert scanned <= planned

    # MoR delete in the interval -> diff path emits the deleted row
    s1 = t.log.current_snapshot_id()
    victim = chunks[0].select("n_nationkey").limit(1).collect()[0][0]
    t.delete_keys(
        spark.createDataFrame([(victim,)], "n_nationkey long"), ["n_nationkey"]
    )
    ch2 = {
        (r._change_type, r.n_nationkey) for r in t.table_changes(s1).collect()
    }
    assert ch2 == {("delete", victim)}

    # equal snapshots -> empty feed
    head = t.log.current_snapshot_id()
    assert t.table_changes(head).count() == 0


from collections import Counter

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    ops=st.lists(
        st.tuples(
            st.sampled_from(["append", "cow_delete", "mor_delete", "update"]),
            st.integers(2, 9),
        ),
        min_size=1,
        max_size=4,
    )
)
@pytest.mark.slow
def test_table_changes_property_feed_reproduces_after_state(
    spark, tmp_path, ops
):
    """The defining CDF invariant, for ANY mutation sequence: applying the
    change feed to the before state reproduces the after state exactly —
    before + inserts - deletes == after as MULTISETS — regardless of which
    plan (metadata fast path or full diff) served the feed."""
    import uuid

    rows = [(i, i % 5, float(i % 11)) for i in range(120)]
    df = spark.createDataFrame(rows, "id long, k long, v double")
    lh = Lakehouse(spark, str(tmp_path / uuid.uuid4().hex))
    t = lh.create_table("ns.cdfprop", df.schema)
    t.append(df.filter(F.col("id") < 40))
    cursor = t.log.current_snapshot_id()
    hi = 40
    for op, m in ops:
        if op == "append" and hi < 120:
            t.append(df.filter((F.col("id") >= hi) & (F.col("id") < hi + 40)))
            hi += 40
        elif op == "cow_delete":
            t.delete_where(F.col("id") % m == 0)
        elif op == "mor_delete":
            t.delete_keys(df.filter(F.col("id") % m == 1).select("id"), ["id"])
        else:
            t.update_where(F.col("id") % m == 2, {"v": F.col("v") + 1.0})

    key = lambda r: (r.id, r.k, r.v)  # noqa: E731
    before = Counter(map(key, t.read_snapshot(cursor).collect()))
    after = Counter(map(key, t.scan().collect()))
    feed = t.table_changes(cursor).collect()
    ins = Counter(key(r) for r in feed if r._change_type == "insert")
    dels = Counter(key(r) for r in feed if r._change_type == "delete")
    assert dels <= before  # never deletes a row that wasn't there
    assert before + ins - dels == after


def test_overlapped_appends_history_identical_to_sequential(spark, tmp_path):
    """r19: _overlapped_appends stages the write jobs concurrently but
    must land snapshot history byte-equivalent to sequential .append()
    calls — same snapshot count, operations, per-commit row totals, and
    table contents."""
    from pyiceberg_lakehouse_spark.lakehouse import Lakehouse
    from pyiceberg_lakehouse_spark.lakehouse.queries import _overlapped_appends
    from pyiceberg_lakehouse_spark.sources.testdata import SCHEMAS, load_table

    orders = load_table(spark, "/root/testdata/sf0.001", "orders")
    halves = [
        orders.filter(F.col("o_orderkey") % 2 == 0),
        orders.filter(F.col("o_orderkey") % 2 == 1),
    ]
    lh = Lakehouse(spark, str(tmp_path / "wh"))
    seq = lh.create_table("ns.seq_app", SCHEMAS["orders"])
    for h in halves:
        seq.append(h)
    ovl = lh.create_table("ns.ovl_app", SCHEMAS["orders"])
    _overlapped_appends(ovl, *halves)

    assert len(ovl.log.snapshots) == len(seq.log.snapshots)
    assert [s.operation for s in ovl.log.snapshots] == [
        s.operation for s in seq.log.snapshots
    ]
    assert [
        sum(f["rows"] for f in s.added_files) for s in ovl.log.snapshots
    ] == [sum(f["rows"] for f in s.added_files) for s in seq.log.snapshots]
    assert ovl.scan().exceptAll(seq.scan()).count() == 0
    assert seq.scan().exceptAll(ovl.scan()).count() == 0
