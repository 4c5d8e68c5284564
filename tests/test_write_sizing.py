"""Target-file-size enforcement on the lakehouse write path."""

import math
from collections import Counter

import pytest
from pyspark.sql import functions as F

from pyiceberg_lakehouse_spark.lakehouse import Lakehouse
from pyiceberg_lakehouse_spark.sources.testdata import SCHEMAS, load_table


def test_target_records_per_file_splits_output(spark, warehouse, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    lh = Lakehouse(spark, warehouse)
    t = lh.create_table(
        "ns.orders_sz",
        SCHEMAS["orders"],
        properties={"write.target-records-per-file": "400"},
    )
    t.append(orders.limit(1000))
    files = t.log.live_files()
    assert len(files) >= 3  # 1000 rows / 400 per file
    assert t.scan().count() == 1000


def test_distribution_mode_hash_collapses_small_files(spark, warehouse, sf_dir):
    """Without distribution, every input task writes a file into every
    partition it holds rows for; hash mode co-locates each partition on one
    task — the 100 TB guard against small-file explosion."""
    from pyiceberg_lakehouse_spark.lakehouse import Lakehouse
    from pyiceberg_lakehouse_spark.sources.testdata import SCHEMAS, load_table

    orders = load_table(spark, sf_dir, "orders").repartition(8)
    lh = Lakehouse(spark, warehouse)

    t_none = lh.create_table(
        "ns.orders_dn",
        SCHEMAS["orders"],
        partition_by=["o_orderstatus"],
        properties={"write.distribution-mode": "none"},
    )
    t_none.append(orders)
    files_none = len(t_none.log.live_files())

    t_hash = lh.create_table(
        "ns.orders_dh",
        SCHEMAS["orders"],
        partition_by=["o_orderstatus"],
        properties={"write.distribution-mode": "hash"},
    )
    t_hash.append(orders)
    files_hash = len(t_hash.log.live_files())

    n_parts = orders.select("o_orderstatus").distinct().count()
    assert files_none > n_parts  # the explosion exists without distribution
    assert files_hash <= n_parts + 1, (files_hash, n_parts)
    assert t_hash.scan().count() == orders.count()


def test_distribution_mode_range_tightens_bounds(spark, warehouse, sf_dir):
    """range mode globally orders on the sort column, so file bounds are
    near-disjoint and a range predicate prunes — without an explicit
    repartition(1) trick or post-hoc zorder."""
    from pyiceberg_lakehouse_spark.lakehouse import Lakehouse
    from pyiceberg_lakehouse_spark.lakehouse.stats import prune_files
    from pyiceberg_lakehouse_spark.sources.testdata import SCHEMAS, load_table

    orders = load_table(spark, sf_dir, "orders").repartition(8)
    lh = Lakehouse(spark, warehouse)
    t = lh.create_table(
        "ns.orders_dr",
        SCHEMAS["orders"],
        properties={
            "write.distribution-mode": "range",
            "write.sort-order": "o_totalprice",
            "write.target-records-per-file": "300",
        },
    )
    t.append(orders)
    files = t.log.live_files()
    assert len(files) > 3
    kept = prune_files(files, {"o_totalprice": ("<", 50000.0)})
    assert len(kept) < len(files) / 2, (len(kept), len(files))


@pytest.mark.parametrize("props", [{}, {"write.target-records-per-file": "150"}])
def test_default_distribution_writes_few_files_per_partition(
    spark, warehouse, sf_dir, props
):
    """A partitioned table rebalances by its partition columns by default,
    so an input spread over 8 tasks still writes each partition as
    ceil(rows / records-per-file) files, not one file per task."""
    orders = load_table(spark, sf_dir, "orders").repartition(8)
    t = Lakehouse(spark, warehouse).create_table(
        "ns.orders_dd", SCHEMAS["orders"], partition_by=["o_orderstatus"],
        properties=props,
    )
    t.append(orders)
    target = int(props.get("write.target-records-per-file", 512 * 1024 * 1024 // 64))
    rows = {r[0]: r[1] for r in orders.groupBy("o_orderstatus").count().collect()}
    files = Counter(f["partition"]["o_orderstatus"] for f in t.log.live_files())
    assert set(files) == set(rows)
    for p, n in rows.items():
        assert files[p] <= math.ceil(n / target), (p, files[p], n)
    assert t.scan().count() == sum(rows.values())


def _overlapping_pairs(files, col):
    """Pairs of files in one partition whose [min, max] on ``col`` overlap."""
    return sum(
        a["partition"] == b["partition"]
        and a["stats"][col][0] < b["stats"][col][1]
        and b["stats"][col][0] < a["stats"][col][1]
        for i, a in enumerate(files)
        for b in files[i + 1:]
    )


@pytest.mark.parametrize("op", ["compact", "zorder", "orderBy"])
def test_default_distribution_keeps_caller_layout(
    spark, warehouse, sf_dir, monkeypatch, op
):
    """An input that fixes its own distribution or order is written as the
    caller laid it out: the default rebalance must not replace compact's
    repartition, nor undo the range partitioning + sort of a z-order
    rewrite or an orderBy append (disjoint file bounds per partition)."""
    from pyiceberg_lakehouse_spark.lakehouse.maintenance import cluster_zorder, compact

    plans = []
    cls = type(spark.range(1))
    write = cls.write

    def recording_write(df):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return write.fget(df)

    monkeypatch.setattr(cls, "write", property(recording_write))
    orders = load_table(spark, sf_dir, "orders")
    t = Lakehouse(spark, warehouse).create_table(
        "ns.orders_kl", SCHEMAS["orders"], partition_by=["o_orderstatus"],
        properties={"write.target-records-per-file": "100"},
    )
    t.append(orders.filter(F.col("o_orderkey") % 2 == 0).repartition(3))
    t.append(orders.filter(F.col("o_orderkey") % 2 == 1).repartition(3))
    if op == "compact":
        compact(t, target_file_bytes=8 * 1024)
        files = t.log.live_files()
    elif op == "zorder":
        cluster_zorder(t, ["o_totalprice"], target_file_bytes=8 * 1024)
        files = t.log.live_files()
    else:
        files = t.append(orders.orderBy("o_totalprice")).added_files
    exchanges = [line for line in plans[-1].splitlines() if "Exchange" in line]
    assert len(exchanges) == 1, plans[-1]
    assert "REBALANCE" not in exchanges[0], exchanges
    if op != "compact":
        assert _overlapping_pairs(files, "o_totalprice") == 0
