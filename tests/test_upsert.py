"""Keyed upsert properties (SURVEY.md §5.4, reference upsert.py:44-86).

For any key overlap: |result| = |keys(old) ∪ keys(new)|, new values win,
and upserting the same batch twice changes nothing (idempotence). The
partition-scoped variant is merge-on-read: it leaves every file alone.
"""

import pytest
from pyspark.sql import functions as F

from pyiceberg_lakehouse_spark.lakehouse import Lakehouse
from pyiceberg_lakehouse_spark.lakehouse.upsert import (
    merge_keep_last,
    upsert,
    upsert_partitioned,
)
from pyiceberg_lakehouse_spark.sources.testdata import SCHEMAS, load_table


@pytest.fixture()
def orders(spark, sf_dir):
    return load_table(spark, sf_dir, "orders")


def _base_and_batch(orders):
    base = orders.filter(F.col("o_orderkey") % 3 != 0)
    batch = orders.filter(F.col("o_orderkey") % 5 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") + F.lit(1000.0)
    )
    return base, batch


def test_merge_union_of_keys_and_new_wins(spark, orders):
    base, batch = _base_and_batch(orders)
    merged = merge_keep_last(base, batch, ["o_orderkey"])
    base_keys = {r.o_orderkey for r in base.select("o_orderkey").collect()}
    batch_keys = {r.o_orderkey for r in batch.select("o_orderkey").collect()}
    assert merged.count() == len(base_keys | batch_keys)
    new_prices = {r.o_orderkey: r.o_totalprice for r in batch.collect()}
    for r in merged.filter(F.col("o_orderkey") % 5 == 0).collect():
        assert r.o_totalprice == new_prices[r.o_orderkey]


def test_upsert_idempotent(spark, warehouse, orders):
    base, batch = _base_and_batch(orders)
    lh = Lakehouse(spark, warehouse)
    t = lh.create_table("ns.orders", SCHEMAS["orders"])
    t.append(base)
    upsert(t, batch, ["o_orderkey"])
    once = sorted(map(tuple, t.scan().collect()))
    upsert(t, batch, ["o_orderkey"])
    twice = sorted(map(tuple, t.scan().collect()))
    assert once == twice


def test_partition_scoped_upsert_leaves_untouched_partitions(spark, warehouse, orders):
    lh = Lakehouse(spark, warehouse)
    t = lh.create_table("ns.orders_p", SCHEMAS["orders"], partition_by=["o_orderstatus"])
    t.append(orders)
    files_before = {
        f["path"]: f["partition"] for f in t.log.live_files()
    }
    # batch touches only status 'O' rows
    batch = (
        orders.filter((F.col("o_orderstatus") == "O") & (F.col("o_orderkey") % 7 == 0))
        .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(5.0))
    )
    deletes_before = len(t.log.live_deletes())
    snap = upsert_partitioned(t, batch, ["o_orderkey"])
    files_after = {f["path"]: f["partition"] for f in t.log.live_files()}
    # merge-on-read: every file live before is still live, in every
    # partition ('O' included), and only the batch's rows were added
    assert snap.removed_paths == []
    assert files_before.items() <= files_after.items()
    assert set(files_after) - set(files_before) == {
        f["path"] for f in snap.added_files
    }
    assert {pv.get("o_orderstatus") for pv in files_before.values()} > {"O"}
    # ...plus exactly one equality-delete file of the batch keys
    assert len(snap.added_deletes) == 1
    assert snap.added_deletes[0]["key_cols"] == ["o_orderkey"]
    assert len(t.log.live_deletes()) == deletes_before + 1
    # and the merge is correct
    assert t.scan().count() == orders.count()
    changed = t.scan().filter(
        (F.col("o_orderstatus") == "O") & (F.col("o_orderkey") % 7 == 0)
    )
    orig = orders.filter((F.col("o_orderstatus") == "O") & (F.col("o_orderkey") % 7 == 0))
    got = {r.o_orderkey: r.o_totalprice for r in changed.collect()}
    for r in orig.collect():
        assert got[r.o_orderkey] == pytest.approx(r.o_totalprice + 5.0)


def test_merge_deterministic_order_col(spark):
    rows = [(1, "a", 1), (1, "b", 2), (2, "c", 1)]
    cur = spark.createDataFrame([], "k int, v string, seq int")
    new = spark.createDataFrame(rows, "k int, v string, seq int")
    merged = merge_keep_last(cur, new, ["k"], order_col="seq")
    got = {r.k: r.v for r in merged.collect()}
    assert got == {1: "b", 2: "c"}  # highest seq wins, not file order


def test_apply_changes_cdc(spark, warehouse, sf_dir):
    """CDC apply: updates win, inserts land, deletes disappear, and a key
    whose LAST action is delete stays deleted even if also upserted."""
    from pyiceberg_lakehouse_spark.lakehouse import Lakehouse
    from pyiceberg_lakehouse_spark.lakehouse.upsert import apply_changes
    from pyiceberg_lakehouse_spark.sources.testdata import SCHEMAS, load_table

    nation = load_table(spark, sf_dir, "nation")
    lh = Lakehouse(spark, warehouse)
    t = lh.create_table("ns.nation_cdc", SCHEMAS["nation"])
    t.append(nation)

    F_ = F
    changes = (
        nation.filter(F_.col("n_nationkey") < 3)
        .withColumn("n_name", F_.concat(F_.col("n_name"), F_.lit("_v2")))
        .withColumn("_op", F_.lit("upsert"))
        .withColumn("_seq", F_.lit(1))
        .unionByName(
            spark.createDataFrame(
                [(99, "NEWLAND", 0)], "n_nationkey int, n_name string, n_regionkey int"
            )
            .withColumn("_op", F_.lit("upsert"))
            .withColumn("_seq", F_.lit(1))
        )
        .unionByName(
            nation.filter(F_.col("n_nationkey").isin(5, 6))
            .withColumn("_op", F_.lit("delete"))
            .withColumn("_seq", F_.lit(1))
        )
        .unionByName(  # key 7: upsert at seq 1, delete at seq 2 -> deleted
            nation.filter(F_.col("n_nationkey") == 7)
            .withColumn("_op", F_.lit("upsert"))
            .withColumn("_seq", F_.lit(1))
        )
        .unionByName(
            nation.filter(F_.col("n_nationkey") == 7)
            .withColumn("_op", F_.lit("delete"))
            .withColumn("_seq", F_.lit(2))
        )
    )
    apply_changes(t, changes, key_cols=["n_nationkey"], op_col="_op", order_col="_seq")
    final = t.scan()
    assert final.count() == nation.count() + 1 - 3  # +NEWLAND, -5,-6,-7
    assert final.filter(F_.col("n_nationkey").isin(5, 6, 7)).count() == 0
    assert final.filter(F_.col("n_name") == "NEWLAND").count() == 1
    v2 = final.filter(F_.col("n_nationkey") < 3)
    assert all(r.n_name.endswith("_v2") for r in v2.collect())


def test_partition_scoped_upsert_constant_plan_size(spark, warehouse, orders):
    """A copy-on-write merge over a partition-pruned scan must contain ONE
    table read regardless of how many partitions the batch touches (no
    per-partition scan+union loop)."""
    import re

    lh = Lakehouse(spark, warehouse)
    t = lh.create_table("ns.o_plan", SCHEMAS["orders"], partition_by=["o_orderstatus"])
    t.append(orders)
    batch = orders.limit(100).withColumn("o_totalprice", F.lit(1.0))
    touched = [
        {"o_orderstatus": r.o_orderstatus}
        for r in batch.select("o_orderstatus").distinct().collect()
    ]
    assert len(touched) >= 2
    merged = merge_keep_last(
        t.scan(partition_filter_any=touched), batch, ["o_orderkey"]
    )
    plan = merged._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    # the TABLE side (the 100 TB side) must be read exactly once no matter
    # how many partitions the batch touches — count scan nodes rooted in
    # the warehouse dir. The small batch side may appear twice since the
    # r19 anti-join merge (keys for the anti join + rows for the union);
    # re-scanning the small side is the guide §3.2 trade that keeps the
    # table side out of the merge shuffle entirely.
    table_scans = [
        m for m in re.finditer(r"Location: [^\n]*", plan)
        if "o_plan" in m.group(0)
    ]
    assert len(table_scans) == 1, plan[:2000]
    scans = re.findall(r"\(\d+\) Scan parquet", plan)
    assert len(scans) <= 3, plan[:2000]
    # the table side reaches the merge through a broadcast anti-join, so
    # it is never shuffled (merge_keep_last's sort-merge fallback would)
    anti = [node for node in re.split(r"\n(?=\(\d+\) )", plan)
            if "Join type: LeftAnti" in node]
    assert anti, plan
    assert all(node.split("\n")[0].endswith("BroadcastHashJoin")
               for node in anti), plan


def test_merge_into_clause_semantics(spark, tmp_path):
    """Conditional MERGE: DELETE beats UPDATE when both conditions hold
    (SQL clause order); disabled clauses are inert; unmatched target rows
    never move."""
    import uuid

    from pyspark.sql import functions as F

    from pyiceberg_lakehouse_spark.lakehouse import Lakehouse
    from pyiceberg_lakehouse_spark.lakehouse.upsert import merge_into

    lh = Lakehouse(spark, str(tmp_path / uuid.uuid4().hex))
    df = spark.createDataFrame(
        [(1, "keep", 10.0), (2, "upd", 20.0), (3, "del", 30.0), (4, "both", 40.0)],
        "id long, tag string, v double",
    )
    t = lh.create_table("ns.mi", df.schema)
    t.append(df)
    src = spark.createDataFrame(
        [(2, "upd", 99.0), (3, "del", 99.0), (4, "both", 99.0), (5, "new", 50.0),
         (6, "new_blocked", 1.0)],
        "id long, tag string, v double",
    )
    merge_into(
        t,
        src,
        ["id"],
        # delete tag 'del' AND 'both'; update everything else matched
        matched_delete=F.col("tag").isin("del", "both"),
        not_matched_insert=F.col("_src_v") > 10.0,
    )
    got = {r.id: (r.tag, r.v) for r in t.scan().collect()}
    assert got == {
        1: ("keep", 10.0),   # unmatched target untouched
        2: ("upd", 99.0),    # matched update takes source values
        5: ("new", 50.0),    # insert passes its condition
        # 3, 4 deleted (4 satisfied update too -> DELETE wins)
        # 6 blocked by the insert condition
    }


def test_merge_into_disabled_clauses(spark, tmp_path):
    import uuid

    from pyspark.sql import functions as F

    from pyiceberg_lakehouse_spark.lakehouse import Lakehouse
    from pyiceberg_lakehouse_spark.lakehouse.upsert import merge_into

    lh = Lakehouse(spark, str(tmp_path / uuid.uuid4().hex))
    df = spark.createDataFrame([(1, 1.0), (2, 2.0)], "id long, v double")
    t = lh.create_table("ns.mi2", df.schema)
    t.append(df)
    src = spark.createDataFrame([(2, 9.0), (3, 9.0)], "id long, v double")
    # update disabled, insert disabled -> table unchanged
    merge_into(t, src, ["id"], matched_update=False, not_matched_insert=False)
    assert {r.id: r.v for r in t.scan().collect()} == {1: 1.0, 2: 2.0}
    # delete-only merge
    merge_into(t, src, ["id"], matched_update=False, matched_delete=True,
               not_matched_insert=False)
    assert {r.id: r.v for r in t.scan().collect()} == {1: 1.0}


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    tgt_ids=st.sets(st.integers(0, 12), min_size=1, max_size=8),
    src_ids=st.sets(st.integers(0, 12), min_size=1, max_size=8),
    del_mod=st.integers(2, 5),
    ins_floor=st.integers(0, 12),
)
def test_merge_into_matches_reference_model(spark, tmp_path, tgt_ids, src_ids, del_mod, ins_floor):
    """merge_into vs a trivial Python reference for arbitrary key overlaps
    and conditions: matched & id%del_mod==0 -> delete, other matched ->
    update, unmatched source inserts only when id >= ins_floor."""
    import uuid

    from pyspark.sql import functions as F

    from pyiceberg_lakehouse_spark.lakehouse import Lakehouse
    from pyiceberg_lakehouse_spark.lakehouse.upsert import merge_into

    base = spark.createDataFrame(
        [(i, float(i)) for i in sorted(tgt_ids)], "id long, v double"
    )
    lh = Lakehouse(spark, str(tmp_path / uuid.uuid4().hex))
    t = lh.create_table("ns.mip", base.schema)
    t.append(base)
    src = spark.createDataFrame(
        [(i, float(i) + 100.0) for i in sorted(src_ids)], "id long, v double"
    )
    merge_into(
        t,
        src,
        ["id"],
        matched_delete=F.col("id") % del_mod == 0,
        not_matched_insert=F.col("_src_id") >= ins_floor,
    )
    expect = {}
    for i in tgt_ids:
        if i in src_ids:
            if i % del_mod == 0:
                continue  # deleted
            expect[i] = float(i) + 100.0  # updated
        else:
            expect[i] = float(i)  # untouched
    for i in src_ids - tgt_ids:
        if i >= ins_floor:
            expect[i] = float(i) + 100.0  # inserted
    got = {r.id: r.v for r in t.scan().collect()}
    assert got == expect


def test_merge_into_partitioned_untouched_partitions_byte_identical(
    spark, warehouse, orders
):
    """Partition-scoped MERGE: partitions the source batch doesn't touch
    keep the EXACT same physical files, byte for byte; touched partitions
    are swapped; clause semantics match the full-table merge_into."""
    import hashlib
    import uuid
    from pathlib import Path

    from pyiceberg_lakehouse_spark.lakehouse.upsert import (
        merge_into,
        merge_into_partitioned,
    )

    def digests(table, pred):
        return {
            f["path"]: hashlib.sha256(Path(f["path"]).read_bytes()).hexdigest()
            for f in table.log.live_files()
            if pred(f["partition"])
        }

    lh = Lakehouse(spark, warehouse)
    t = lh.create_table(
        "ns.orders_mip", SCHEMAS["orders"], partition_by=["o_orderstatus"]
    )
    t.append(orders)
    # source touches ONLY status 'O'
    src = orders.filter(
        (F.col("o_orderstatus") == "O") & (F.col("o_orderkey") % 6 == 0)
    ).withColumn("o_totalprice", F.col("o_totalprice") + F.lit(7.0))
    before_rest = digests(t, lambda pv: pv.get("o_orderstatus") != "O")
    before_o = set(digests(t, lambda pv: pv.get("o_orderstatus") == "O"))
    merge_into_partitioned(
        t,
        src,
        ["o_orderkey"],
        matched_delete=F.col("o_orderkey") % 12 == 0,
        not_matched_insert=False,
    )
    after_rest = digests(t, lambda pv: pv.get("o_orderstatus") != "O")
    after_o = set(digests(t, lambda pv: pv.get("o_orderstatus") == "O"))
    assert before_rest == after_rest  # same paths AND same bytes
    assert before_o.isdisjoint(after_o)  # 'O' partition swapped
    # semantics: identical to the full-table merge on a twin table
    t2 = lh.create_table(
        "ns.orders_mi_twin" + uuid.uuid4().hex[:6], SCHEMAS["orders"]
    )
    t2.append(orders)
    merge_into(
        t2,
        src,
        ["o_orderkey"],
        matched_delete=F.col("o_orderkey") % 12 == 0,
        not_matched_insert=False,
    )
    got = sorted(map(tuple, t.scan().collect()))
    want = sorted(map(tuple, t2.scan().collect()))
    assert got == want


def test_merge_into_partitioned_insert_lands_in_new_partition(
    spark, warehouse
):
    """An inserted source row whose partition value doesn't exist yet must
    create that partition; other partitions stay byte-identical."""
    from pyiceberg_lakehouse_spark.lakehouse.upsert import merge_into_partitioned

    lh = Lakehouse(spark, warehouse)
    df = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0)], "id long, part string, v double"
    )
    t = lh.create_table("ns.mip_new", df.schema, partition_by=["part"])
    t.append(df)
    src = spark.createDataFrame([(9, "c", 9.0)], "id long, part string, v double")
    before = {f["path"] for f in t.log.live_files()}
    merge_into_partitioned(t, src, ["id"])
    after = {f["path"] for f in t.log.live_files()}
    assert before < after  # old files all kept, new partition added
    got = {(r.id, r.part, r.v) for r in t.scan().collect()}
    assert got == {(1, "a", 1.0), (2, "b", 2.0), (9, "c", 9.0)}


def test_merge_into_partitioned_requires_partitioning(spark, warehouse):
    from pyiceberg_lakehouse_spark.lakehouse.upsert import merge_into_partitioned

    lh = Lakehouse(spark, warehouse)
    df = spark.createDataFrame([(1, 1.0)], "id long, v double")
    t = lh.create_table("ns.mip_flat", df.schema)
    t.append(df)
    with pytest.raises(ValueError, match="not partitioned"):
        merge_into_partitioned(t, df, ["id"])


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    tgt_ids=st.sets(st.integers(0, 15), min_size=1, max_size=10),
    src_ids=st.sets(st.integers(0, 15), min_size=1, max_size=10),
    del_mod=st.integers(2, 5),
    n_parts=st.integers(2, 3),
)
def test_merge_into_partitioned_equals_full(spark, tmp_path, tgt_ids, src_ids, del_mod, n_parts):
    """For any key overlap and clause conditions, the partition-scoped
    MERGE must produce exactly the same table as the full-table variant
    (partition value derived stably from the key, per the contract)."""
    import uuid

    from pyspark.sql import functions as F

    from pyiceberg_lakehouse_spark.lakehouse import Lakehouse
    from pyiceberg_lakehouse_spark.lakehouse.upsert import (
        merge_into,
        merge_into_partitioned,
    )

    def rows(ids, bump):
        return [(i, f"p{i % n_parts}", float(i) + bump) for i in sorted(ids)]

    lh = Lakehouse(spark, str(tmp_path / uuid.uuid4().hex))
    base = spark.createDataFrame(rows(tgt_ids, 0.0), "id long, part string, v double")
    src = spark.createDataFrame(rows(src_ids, 100.0), "id long, part string, v double")
    tp = lh.create_table(
        "ns.hp" + uuid.uuid4().hex[:6], base.schema, partition_by=["part"]
    )
    tf = lh.create_table("ns.hf" + uuid.uuid4().hex[:6], base.schema)
    tp.append(base)
    tf.append(base)
    kwargs = dict(
        matched_delete=F.col("id") % del_mod == 0,
        not_matched_insert=F.col("_src_v") >= 100.0,
    )
    merge_into_partitioned(tp, src, ["id"], **kwargs)
    merge_into(tf, src, ["id"], **kwargs)
    got_p = sorted(map(tuple, tp.scan().collect()))
    got_f = sorted(map(tuple, tf.scan().collect()))
    assert got_p == got_f
