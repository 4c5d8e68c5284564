"""Regression tests for the round-7 advisor findings (ADVICE.md r7).

1. ``ivf_pq_topk`` filters poison QUERY rows (NULL / ragged vectors)
   through ``_valid_vecs`` with the codebooks' authoritative dim — a NULL
   query previously crashed the driver-side float() loop.
2. ``pq_encode``'s non-residual kernel passes the statically-known dim to
   ``_rows_masked`` — a mis-dimensioned first row in an Arrow batch
   previously masked out every valid row and crashed the reshape.
3. ``_valid_vecs`` derives the reference dim by MAJORITY vote (or an
   authoritative caller-passed dim) — a ragged poison row sorting first
   previously became the reference dim and silently discarded every
   legitimate row.
4. Snapshot logs written before format_version 2 persisted percent-ENCODED
   partition keys and values; ``SnapshotLog.load`` decodes them once so
   ``partition_filter`` with special-character values prunes correctly on
   pre-existing tables.
5. ``ann_index_health`` on a PQ-only table (codebooks, no IVF centroids)
   no longer recommends an unconditional rebuild: with no cells to be
   due, health is governed by stale_fraction alone.
"""

from __future__ import annotations

import pytest

import json
import os

from pyspark.sql import functions as F

from pyiceberg_lakehouse_spark.lakehouse import Lakehouse
from pyiceberg_lakehouse_spark.lakehouse.log import decode_log
from pyiceberg_lakehouse_spark.lakehouse.maintenance import (
    ann_index_health,
    build_ivf_index,
    build_pq_index,
)
from pyiceberg_lakehouse_spark.operators import similarity


def _clustered(spark, n=2000, dim=32):
    from pyiceberg_lakehouse_spark.sources.synthetic import mock_embeddings

    return mock_embeddings(spark, n, dim=dim, n_clusters=4).drop("label")


@pytest.mark.slow
def test_ivf_pq_topk_poison_queries_dont_crash(spark, warehouse):
    emb = _clustered(spark)
    lh = Lakehouse(spark, warehouse)
    t = lh.create_table("ns.pq_poison_q", emb.schema)
    t.append(emb)
    build_ivf_index(t, k=4, iters=1)
    build_pq_index(t, n_subspaces=8, n_codes=16, sample_cap=512)
    poison = spark.createDataFrame(
        [(9001, None), (9002, [1.0] * 7)],
        "vec_id long, embedding array<double>",
    )
    q = emb.filter("vec_id < 3").union(poison)
    got = similarity.ivf_pq_topk(t, q, k=3, n_probe=4).collect()
    assert got, "valid queries must still return results"
    assert {r.qid for r in got} == {0, 1, 2}  # poison queries drop out
    # all-poison query set degrades to empty, not a crash
    assert similarity.ivf_pq_topk(t, poison, k=3, n_probe=4).collect() == []


@pytest.mark.slow
def test_pq_encode_raw_survives_poison_first_row(spark):
    # one partition, poison row FIRST (lowest id): per-batch dim inference
    # would adopt dim 7 and crash the reshape on the valid 32-dim rows
    rows = [(0, [0.5] * 7)] + [
        (i, [0.1 * ((i % 5) + 1)] * 32) for i in range(1, 40)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).coalesce(1)
    books = similarity.pq_train_local(
        df.filter("vec_id > 0"), n_subspaces=8, n_codes=8, cap=64
    )
    got = {
        r.vec_id: r.pq_codes
        for r in similarity.pq_encode(df, books).select(
            "vec_id", "pq_codes"
        ).collect()
    }
    assert got[0] is None  # poison row: NULL codes, no crash
    valid = [v for k, v in got.items() if k > 0]
    assert len(valid) == 39 and all(v is not None and len(v) == 8 for v in valid)


def test_valid_vecs_majority_vote_and_authoritative_dim(spark):
    # ragged poison row sorts FIRST: majority vote must still pick dim 16
    rows = [(0, [9.9] * 3)] + [(i, [0.1 * i] * 16) for i in range(1, 8)]
    collected = (
        spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        .orderBy("vec_id")
        .collect()
    )
    kept, dim = similarity._valid_vecs(collected, vec_idx=1)
    assert dim == 16 and len(kept) == 7
    # an authoritative dim still wins over the vote
    kept3, dim3 = similarity._valid_vecs(collected, vec_idx=1, dim=3)
    assert dim3 == 3 and len(kept3) == 1
    # sample_centroids on the same hostile ordering trains at dim 16
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = similarity.sample_centroids(df, k=4)
    assert cents and all(len(c) == 16 for c in cents)


def test_v1_snapshot_log_partitions_decode_on_load(spark, warehouse):
    lh = Lakehouse(spark, warehouse)
    df = spark.createDataFrame(
        [(1, "a/b=c"), (2, "plain")], "id long, cat string"
    )
    t = lh.create_table("ns.oldlog", df.schema, partition_by=["cat"])
    t.append(df)
    # regress the table to a real v1 log: one file holding every snapshot,
    # no entry directory, partitions re-encoded the way Spark's escaped
    # path segments used to land in the log
    import shutil
    from urllib.parse import quote

    d = {
        "format_version": 1,
        "schema": t.log.schema_json,
        "partition_by": t.log.partition_by,
        "properties": t.log.properties,
        "snapshots": [s.to_json() for s in t.log.snapshots],
        "refs": t.log.refs,
    }
    for snap in d["snapshots"]:
        for fe in snap["added_files"]:
            if fe.get("partition"):
                fe["partition"] = {
                    quote(k, safe=""): quote(v, safe="")
                    for k, v in fe["partition"].items()
                }
    with open(t.log.path, "w") as f:
        json.dump(d, f)
    shutil.rmtree(t.log.entry_dir)
    t2 = lh.load_table("ns.oldlog")
    got = t2.scan(partition_filter={"cat": "a/b=c"}).collect()
    assert [r.id for r in got] == [1]
    # a commit upgrades the log to v2 in place; values survive round-trip
    t2.append(spark.createDataFrame([(3, "a/b=c")], df.schema))
    with open(t2.log.path, "rb") as f:
        assert json.loads(decode_log(f.read(), t2.log.path))["format_version"] == 2
    t3 = lh.load_table("ns.oldlog")
    assert {r.id for r in t3.scan(partition_filter={"cat": "a/b=c"}).collect()} == {1, 3}


def test_ann_health_pq_only_table(spark, warehouse):
    emb = _clustered(spark)
    lh = Lakehouse(spark, warehouse)
    t = lh.create_table("ns.pq_only", emb.schema)
    t.append(emb)
    build_pq_index(t, n_subspaces=8, n_codes=16, sample_cap=512)
    h = ann_index_health(t)
    assert h["built_cells"] == 0
    assert h["recommendation"] == "ok", h  # fresh PQ-only index is healthy
    # staleness still governs: a big un-indexed append flips it
    t.append(_clustered(spark, n=2000).withColumn("vec_id", F.col("vec_id") + 10_000))
    h2 = ann_index_health(t, stale_rebuild_fraction=0.25)
    assert h2["stale_fraction"] > 0.25
    assert h2["recommendation"] == "rebuild"
