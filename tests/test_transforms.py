"""Hidden partitioning (Iceberg-style transform partition specs)."""

import pytest
from pyspark.sql import functions as F

from pyiceberg_lakehouse_spark.lakehouse import Lakehouse
from pyiceberg_lakehouse_spark.lakehouse.transforms import parse_spec
from pyiceberg_lakehouse_spark.lakehouse.upsert import upsert_partitioned
from pyiceberg_lakehouse_spark.sources.testdata import SCHEMAS, load_table


def test_parse_specs():
    assert parse_spec("o_orderstatus").is_identity
    pf = parse_spec("month(o_orderdate)")
    assert (pf.source, pf.transform, pf.name) == (
        "o_orderdate",
        "month",
        "o_orderdate_month",
    )
    pf = parse_spec("bucket(8, o_custkey)")
    assert (pf.transform, pf.param) == ("bucket", 8)
    with pytest.raises(ValueError):
        parse_spec("bucket(o_custkey)")
    with pytest.raises(ValueError):
        parse_spec("frobnicate(3, x)")


def test_month_transform_roundtrip_and_pruning(spark, warehouse, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    lh = Lakehouse(spark, warehouse)
    t = lh.create_table(
        "ns.orders_m", SCHEMAS["orders"], partition_by=["month(o_orderdate)"]
    )
    t.append(orders)
    # source column survives in the data — hidden partitioning is hidden
    assert t.scan().count() == orders.count()
    assert "o_orderdate" in t.scan().columns
    assert "o_orderdate_month" not in t.scan().columns
    # one partition per calendar month, recorded in file metadata
    months = {f["partition"]["o_orderdate_month"] for f in t.log.live_files()}
    expected_months = {
        r[0]
        for r in orders.select(F.date_format("o_orderdate", "yyyy-MM")).distinct().collect()
    }
    assert months == expected_months
    # a source-value probe prunes to exactly that month's files
    probe = t.partition_probe({"o_orderdate": "1996-03-15"})
    assert probe == {"o_orderdate_month": "1996-03"}
    pruned = t.scan(partition_filter=probe).filter(
        F.date_format("o_orderdate", "yyyy-MM") == "1996-03"
    )
    expected = orders.filter(F.date_format("o_orderdate", "yyyy-MM") == "1996-03")
    assert pruned.count() == expected.count() != 0
    month_files = [
        f
        for f in t.log.live_files()
        if f["partition"]["o_orderdate_month"] == "1996-03"
    ]
    assert len(month_files) < len(t.log.live_files())


def test_bucket_transform_bounds_partitions(spark, warehouse, sf_dir):
    cust = load_table(spark, sf_dir, "customer")
    lh = Lakehouse(spark, warehouse)
    t = lh.create_table(
        "ns.cust_b", SCHEMAS["customer"], partition_by=["bucket(8, c_custkey)"]
    )
    t.append(cust)
    buckets = {f["partition"]["c_custkey_bucket"] for f in t.log.live_files()}
    assert buckets <= {str(i) for i in range(8)}
    assert len(buckets) > 1
    # probe a specific key: its bucket's files contain the row
    probe = t.partition_probe({"c_custkey": 42})
    got = t.scan(partition_filter=probe).filter(F.col("c_custkey") == 42)
    assert got.count() == cust.filter(F.col("c_custkey") == 42).count() != 0
    assert t.scan().count() == cust.count()


def test_truncate_transform_int_and_string(spark, warehouse, sf_dir):
    part = load_table(spark, sf_dir, "part")
    lh = Lakehouse(spark, warehouse)
    t = lh.create_table(
        "ns.part_tr", SCHEMAS["part"], partition_by=["truncate(100, p_partkey)"]
    )
    t.append(part)
    vals = {f["partition"]["p_partkey_truncate"] for f in t.log.live_files()}
    assert all(int(v) % 100 == 0 for v in vals)
    assert t.scan().count() == part.count()
    assert t.partition_probe({"p_partkey": 257}) == {"p_partkey_truncate": "200"}


def test_upsert_on_transform_partitioned_table(spark, warehouse, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    lh = Lakehouse(spark, warehouse)
    t = lh.create_table(
        "ns.orders_up_m", SCHEMAS["orders"], partition_by=["month(o_orderdate)"]
    )
    t.append(orders)
    batch = orders.filter(F.col("o_orderkey") % 7 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") + 5.0
    )
    snap = upsert_partitioned(t, batch, key_cols=["o_orderkey"])
    assert snap.operation == "delete"
    assert t.scan().count() == orders.count()
    got = t.scan().filter(F.col("o_orderkey") % 7 == 0).agg(
        F.sum("o_totalprice").alias("s")
    ).collect()[0]["s"]
    want = batch.agg(F.sum("o_totalprice").alias("s")).collect()[0]["s"]
    assert abs(got - want) < 1e-6


@pytest.mark.slow
def test_partition_evolution_month_to_day(spark, warehouse, sf_dir):
    """Evolve month(ts) -> day(ts): old files keep month dirs, new writes
    get day dirs, scans stay correct across the boundary, and pruning on
    the new key conservatively keeps pre-evolution files."""
    orders = load_table(spark, sf_dir, "orders")
    early = orders.filter(F.col("o_orderkey") % 2 == 0)
    late = orders.filter(F.col("o_orderkey") % 2 == 1)
    lh = Lakehouse(spark, warehouse)
    t = lh.create_table(
        "ns.orders_ev", SCHEMAS["orders"], partition_by=["month(o_orderdate)"]
    )
    t.append(early)
    t.update_partition_spec(["day(o_orderdate)"])
    t.append(late)
    assert t.scan().count() == orders.count()
    files = t.log.live_files()
    assert any("o_orderdate_month" in f["partition"] for f in files)
    assert any("o_orderdate_day" in f["partition"] for f in files)
    # pruning on the current spec: old-spec files stay (conservative),
    # new-spec files narrow to the probed day
    probe = t.partition_probe({"o_orderdate": "1996-03-15"})
    assert probe == {"o_orderdate_day": "1996-03-15"}
    kept = t.scan(partition_filter=probe).filter(
        F.to_date("o_orderdate") == "1996-03-15"
    )
    expected = orders.filter(F.to_date("o_orderdate") == "1996-03-15")
    assert kept.count() == expected.count()
    # compaction rewrites history onto the current spec
    from pyiceberg_lakehouse_spark.lakehouse.maintenance import compact

    compact(t)
    assert all(
        "o_orderdate_day" in f["partition"] for f in t.log.live_files()
    )
    assert t.scan().count() == orders.count()


def test_partition_evolution_rejects_identity_change(spark, warehouse, sf_dir):
    lh = Lakehouse(spark, warehouse)
    t = lh.create_table(
        "ns.orders_ev2", SCHEMAS["orders"], partition_by=["o_orderstatus"]
    )
    with pytest.raises(ValueError, match="identity"):
        t.update_partition_spec(["month(o_orderdate)"])
    with pytest.raises(KeyError):
        lh.create_table(
            "ns.orders_ev3", SCHEMAS["orders"], partition_by=["o_orderstatus"]
        ).update_partition_spec(["o_orderstatus", "day(nonexistent)"])


def test_upsert_guard_on_mixed_specs(spark, warehouse, sf_dir):
    from pyiceberg_lakehouse_spark.lakehouse.upsert import upsert_partitioned

    orders = load_table(spark, sf_dir, "orders")
    lh = Lakehouse(spark, warehouse)
    t = lh.create_table(
        "ns.orders_ev4", SCHEMAS["orders"], partition_by=["month(o_orderdate)"]
    )
    t.append(orders.limit(100))
    t.update_partition_spec(["day(o_orderdate)"])
    t.append(orders.limit(50))
    with pytest.raises(ValueError, match="partition specs"):
        upsert_partitioned(t, orders.limit(10), key_cols=["o_orderkey"])
