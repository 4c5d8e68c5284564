"""The benchmark workloads.

Each workload object has ``setup(dir)`` (seeded input generation, repeated
by the runner to time set-up), ``round(run, r)`` (one fixed sequence of
library calls, issued one after another through ``run.op``; every round
issues the same operation sequence, with its keys, partitions and
snapshots drawn from ``(seed, r)``) and ``checks()`` (untimed correctness
checks, ``(name, ok, detail)`` tuples). Most checks are gathered during
round 0 through ``run.check``.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import datagen

LINEITEM_KEY = ["l_orderkey", "l_linenumber"]


def dir_bytes(path: str) -> int:
    """Bytes on disk under ``path``."""
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


class WriteMeter:
    """Bytes the lakehouse writes under a directory: every new file, and
    every rewrite of an existing one (the snapshot log is rewritten on
    each commit). Polled between operations, outside their timing."""

    def __init__(self, root: str) -> None:
        self.root = root
        self.seen: dict[str, tuple[int, int]] = {}
        self.written = 0

    def poll(self) -> None:
        for d, _, fs in os.walk(self.root):
            for f in fs:
                p = os.path.join(d, f)
                try:
                    st = os.stat(p)
                except FileNotFoundError:  # removed by expiry mid-walk
                    continue
                sig = (st.st_size, st.st_mtime_ns)
                if self.seen.get(p) != sig:
                    self.seen[p] = sig
                    self.written += st.st_size


def _write_arrow(df: pd.DataFrame, schema: pa.Schema, path: str) -> int:
    pq.write_table(
        pa.Table.from_pandas(df, schema=schema, preserve_index=False), path
    )
    return os.path.getsize(path)


class Lifecycle:
    """The reference pipeline on one partitioned lineitem table."""

    name = "lifecycle"

    def __init__(self, work: str, seed: int, sf: float) -> None:
        self.spark = None  # the session, set by the runner after set-up
        self.work, self.seed = work, seed
        self.n_ord = datagen.scaled(1_500_000, sf)
        self.n_part, self.n_supp = datagen.scaled(200_000, sf), datagen.scaled(10_000, sf)
        self.results: list[tuple[str, bool, str]] = []

    APPENDS = 1
    UPSERTS = 1

    def setup(self, d: str) -> dict:
        rng = np.random.default_rng([self.seed, 0])
        base = datagen.lineitem_rows(
            rng, np.arange(self.n_ord, dtype=np.int64), self.n_part, self.n_supp
        )
        os.makedirs(d, exist_ok=True)
        pq.write_table(base, os.path.join(d, "base.parquet"))
        step = max(1, self.n_ord // 50)
        for i in range(self.APPENDS):
            keys = np.arange(self.n_ord + i * step, self.n_ord + (i + 1) * step)
            pq.write_table(
                datagen.lineitem_rows(rng, keys, self.n_part, self.n_supp),
                os.path.join(d, f"append{i}.parquet"),
            )
        self.inputs = d
        self.schema = base.schema
        self.base_rows = base.num_rows
        return {"lineitem_rows": base.num_rows, "orders": self.n_ord}

    def _batch(self, df: pd.DataFrame, tag: str) -> tuple[str, int]:
        path = os.path.join(self.stage, f"{tag}.parquet")
        extra = [c for c in df.columns if c not in self.schema.names]
        schema = self.schema
        for c in extra:
            schema = schema.append(pa.field(c, pa.string()))
        return path, _write_arrow(df[schema.names], schema, path)

    def round(self, run, r: int) -> None:
        from pyspark.sql import functions as F

        from pyiceberg_lakehouse_spark.lakehouse import Lakehouse
        from pyiceberg_lakehouse_spark.lakehouse.iceberg_export import (
            export_iceberg_table,
        )
        from pyiceberg_lakehouse_spark.lakehouse.iceberg_interop import (
            read_iceberg_table,
        )
        from pyiceberg_lakehouse_spark.lakehouse.maintenance import (
            compact,
            expire_snapshots,
        )
        from pyiceberg_lakehouse_spark.lakehouse.upsert import (
            apply_changes,
            upsert_partitioned,
        )
        from pyiceberg_lakehouse_spark.sources.testdata import SCHEMAS

        spark, checking = self.spark, r == 0
        rng = np.random.default_rng([self.seed, 1, r])
        wh = os.path.join(self.work, f"round{r}")
        shutil.rmtree(wh, ignore_errors=True)
        self.stage = os.path.join(wh, "_staging")
        os.makedirs(self.stage)
        meter = WriteMeter(os.path.join(wh, "warehouse"))
        user_bytes = 0

        # the plain-DataFrame model every commit is mirrored into
        model = pq.read_table(os.path.join(self.inputs, "base.parquet")).to_pandas()
        appends = [
            pq.read_table(os.path.join(self.inputs, f"append{i}.parquet")).to_pandas()
            for i in range(self.APPENDS)
        ]
        model = pd.concat([model, *appends], ignore_index=True)
        counts: dict[int, int] = {}

        def read(name):
            return spark.read.parquet(os.path.join(self.inputs, name))

        def commit_op(kind, fn, rows_after: int, rows: int | None = None):
            result = run.op(kind, fn, rows=rows)
            meter.poll()
            counts[t.current_snapshot_id()] = rows_after
            return result

        # delete_where drops the orders below the cutoff; the keyed
        # mutations draw disjoint key pools from the rows above it
        cutoff = int(rng.integers(self.n_ord // 100, self.n_ord // 50 + 2))
        order = rng.permutation(np.flatnonzero(model["l_orderkey"].to_numpy() >= cutoff))
        n1 = max(1, len(model) // 100)
        pools = np.array_split(order[: n1 * (self.UPSERTS + 2)], self.UPSERTS + 2)
        new_key = 3 * self.n_ord

        lh = Lakehouse(
            spark,
            os.path.join(wh, "warehouse"),
            catalog_uri=f"sqlite:///{os.path.join(wh, 'catalog.db')}",
        )
        t = run.op(
            "create",
            lambda: lh.create_table(
                "bench.lineitem",
                SCHEMAS["lineitem"],
                partition_by=["l_returnflag"],
                properties={
                    "write.bloom-columns": "l_orderkey",
                    "write.target-records-per-file": str(max(1000, self.base_rows // 6)),
                },
            ),
        )
        rows = self.base_rows
        commit_op("ingest", lambda: t.append(read("base.parquet")), rows, rows)
        user_bytes += os.path.getsize(os.path.join(self.inputs, "base.parquet"))
        ingest_snap = t.current_snapshot_id()
        for i in range(self.APPENDS):
            rows += len(appends[i])
            commit_op("append", lambda i=i: t.append(read(f"append{i}.parquet")), rows)
            user_bytes += os.path.getsize(os.path.join(self.inputs, f"append{i}.parquet"))
        append_snap = t.current_snapshot_id()

        cols = list(self.schema.names)
        keyed = model.set_index(LINEITEM_KEY, drop=False)

        def changed(pool) -> pd.DataFrame:
            df = model.iloc[pool].copy()
            df["l_quantity"] = df["l_quantity"] + 1.0
            df["l_tax"] = (df["l_tax"] + 0.01).round(2)
            return df

        def fresh(n: int) -> pd.DataFrame:
            nonlocal new_key
            keys = np.arange(new_key, new_key + max(1, n // 4))
            new_key += len(keys)
            return datagen.lineitem_rows(rng, keys, self.n_part, self.n_supp).to_pandas()

        for i in range(self.UPSERTS):
            batch = pd.concat([changed(pools[i]), fresh(len(pools[i]) // 4)])
            path, nbytes = self._batch(batch, f"upsert{i}")
            user_bytes += nbytes
            run.note("upsert.changed_rows", len(batch))
            keyed = pd.concat(
                [keyed.drop(batch.set_index(LINEITEM_KEY).index, errors="ignore"),
                 batch.set_index(LINEITEM_KEY, drop=False)]
            )
            commit_op(
                "upsert",
                lambda p=path: upsert_partitioned(
                    t, spark.read.parquet(p), key_cols=LINEITEM_KEY
                ),
                len(keyed),
            )
        # The copy-on-write delete runs before the merge-on-read ones
        # (apply_changes' deletes, delete_keys): delete_where rewrites files
        # without applying earlier delete files, so after them it would
        # bring deleted rows back.
        keyed = keyed[keyed["l_orderkey"] >= cutoff]
        commit_op(
            "delete_where",
            lambda: t.delete_where(
                F.col("l_orderkey") < cutoff, stat_filter={"l_orderkey": ("<", cutoff)}
            ),
            len(keyed),
        )
        cdc = pools[self.UPSERTS]
        ups = changed(cdc[: len(cdc) // 2])
        dels = model.iloc[cdc[len(cdc) // 2 :]].copy()
        ups["_op"], dels["_op"] = "upsert", "delete"
        batch = pd.concat([ups, dels])
        path, nbytes = self._batch(batch, "cdc")
        user_bytes += nbytes
        run.note("upsert.changed_rows", len(batch))
        keyed = pd.concat(
            [keyed.drop(ups.set_index(LINEITEM_KEY).index),
             ups.drop(columns="_op").set_index(LINEITEM_KEY, drop=False)]
        ).drop(dels.set_index(LINEITEM_KEY).index)
        commit_op(
            "cdc_apply",
            lambda: apply_changes(t, spark.read.parquet(path), key_cols=LINEITEM_KEY),
            len(keyed),
        )
        dels = model.iloc[pools[self.UPSERTS + 1]][LINEITEM_KEY]
        path = os.path.join(self.stage, "delete.parquet")
        dels.to_parquet(path, index=False)
        user_bytes += os.path.getsize(path)
        keyed = keyed.drop(dels.set_index(LINEITEM_KEY).index)
        commit_op(
            "delete",
            lambda: t.delete_keys(spark.read.parquet(path), LINEITEM_KEY),
            len(keyed),
        )

        def scan_op(kind, make, expect: int | None):
            df = run.scan(kind, make)
            if checking and expect is not None:
                run.check(f"{self.name}.{kind}_count", lambda: df.count(), expect)

        # one partition-pruned, one stat-pruned and one bloom point-lookup
        # scan of the head, then one read of a seeded older snapshot
        flag = str(rng.choice(["A", "N", "R"]))
        scan_op(
            "scan",
            lambda: t.scan(partition_filter={"l_returnflag": flag}),
            int((keyed["l_returnflag"] == flag).sum()),
        )
        lo = int(rng.integers(cutoff, self.n_ord - self.n_ord // 20))
        hi = lo + max(1, self.n_ord // 20)
        scan_op(
            "scan",
            lambda: t.scan(stat_filter={"l_orderkey": [(">=", lo), ("<", hi)]}).filter(
                (F.col("l_orderkey") >= lo) & (F.col("l_orderkey") < hi)
            ),
            int(keyed["l_orderkey"].between(lo, hi - 1).sum()),
        )
        k = int(rng.choice(keyed["l_orderkey"].to_numpy()))
        scan_op(
            "scan",
            lambda: t.scan(bloom_filter={"l_orderkey": k}).filter(F.col("l_orderkey") == k),
            int((keyed["l_orderkey"] == k).sum()),
        )
        sid = int(rng.choice(sorted(counts)[:-1]))
        scan_op("time_travel", lambda: t.read_snapshot(sid), counts[sid])
        scan_op(
            "incremental",
            lambda: t.read_incremental(ingest_snap, append_snap),
            sum(len(a) for a in appends),
        )

        run.op("compact", lambda: compact(t))
        meter.poll()
        run.op("expire", lambda: expire_snapshots(t, keep_last=1))
        meter.poll()
        meta = run.op(
            "export",
            lambda: export_iceberg_table(t, os.path.join(wh, "warehouse", "iceberg")),
        )
        meter.poll()
        ice = run.scan("iceberg_read", lambda: read_iceberg_table(spark, meta))

        on_disk = dir_bytes(os.path.join(wh, "warehouse"))
        run.gauge("write_amp", meter.written / user_bytes)
        run.gauge("space_amp", on_disk / user_bytes)
        run.gauge("warehouse_mb", on_disk / 1e6)
        if checking:
            import canon

            want = canon.rows(keyed[cols].reset_index(drop=True))
            head = run.check_value(lambda: canon.rows(t.scan().select(*cols).toPandas()))
            self.results.append(
                (f"{self.name}.head_equals_model", head == want,
                 f"{len(head[1])} rows vs {len(want[1])}")
            )
            back = run.check_value(lambda: canon.rows(ice.select(*cols).toPandas()))
            self.results.append(
                (f"{self.name}.iceberg_equals_head", back == head,
                 f"{len(back[1])} rows")
            )
        shutil.rmtree(self.stage, ignore_errors=True)

    def checks(self) -> list[tuple[str, bool, str]]:
        return self.results


class CommitStream:
    """One table grown by many small commits, mostly metadata-only
    ``add_files`` registrations of files that stay where set-up wrote them
    (so the warehouse holds the log and the appended files only)."""

    name = "commit_stream"
    COMMITS = 150
    APPEND_EVERY = 25
    READ_EVERY = 50
    ROWS_PER_FILE = 50

    def __init__(self, work: str, seed: int) -> None:
        self.spark = None  # the session, set by the runner after set-up
        self.work, self.seed = work, seed

    SCHEMA = pa.schema(
        [
            ("id", pa.int64()),
            ("grp", pa.string()),
            ("value1", pa.float64()),
            ("value2", pa.int32()),
        ]
    )

    def setup(self, d: str) -> dict:
        rng = np.random.default_rng([self.seed, 0])
        os.makedirs(d, exist_ok=True)
        self.files: list[tuple[str, int]] = []
        next_id = 0
        for i in range(self.COMMITS):
            n = int(rng.integers(self.ROWS_PER_FILE // 2, self.ROWS_PER_FILE * 3 // 2 + 1))
            n *= 4 if (i + 1) % self.APPEND_EVERY == 0 else 1
            ids = np.arange(next_id, next_id + n, dtype=np.int64)
            next_id += n
            tbl = pa.table(
                {
                    "id": ids,
                    "grp": pa.array(rng.choice(["A", "B", "C", "D"], n)),
                    "value1": np.round(rng.random(n) * 100, 4),
                    "value2": pa.array(rng.integers(1, 1001, n), pa.int32()),
                },
                schema=self.SCHEMA,
            )
            path = os.path.join(d, f"f{i:04d}.parquet")
            pq.write_table(tbl, path)
            self.files.append((path, n))
        return {"files": self.COMMITS, "rows": next_id}

    def round(self, run, r: int) -> None:
        from pyspark.sql import types as T

        from pyiceberg_lakehouse_spark.lakehouse import Lakehouse

        spark, checking = self.spark, r == 0
        rng = np.random.default_rng([self.seed, 1, r])
        wh = os.path.join(self.work, f"round{r}")
        shutil.rmtree(wh, ignore_errors=True)
        meter = WriteMeter(wh)
        schema = T.StructType(
            [
                T.StructField("id", T.LongType()),
                T.StructField("grp", T.StringType()),
                T.StructField("value1", T.DoubleType()),
                T.StructField("value2", T.IntegerType()),
            ]
        )
        t = run.op("create", lambda: Lakehouse(spark, wh).create_table("stream.events", schema))
        prefix: dict[int, int] = {}
        rows = user_bytes = 0
        for i, (path, n) in enumerate(self.files):
            if (i + 1) % self.APPEND_EVERY == 0:
                run.op("append", lambda p=path: t.append(spark.read.parquet(p)))
            else:
                run.op("register", lambda p=path: t.add_files([p], batch_size=1))
            meter.poll()
            rows += n
            user_bytes += os.path.getsize(path)
            prefix[t.current_snapshot_id()] = rows
            if (i + 1) % self.READ_EVERY == 0:
                head = run.scan("scan", t.scan)
                sid = int(rng.choice(sorted(prefix)[:-1]))
                old = run.scan("time_travel", lambda: t.read_snapshot(sid))
                if checking:
                    run.check(f"{self.name}.head_count@{i + 1}", head.count, rows)
                    run.check(f"{self.name}.time_travel_count@{i + 1}", old.count, prefix[sid])
        on_disk = dir_bytes(wh)
        run.gauge("write_amp", meter.written / user_bytes)
        run.gauge("space_amp", on_disk / user_bytes)
        run.gauge("warehouse_mb", on_disk / 1e6)

    def checks(self) -> list[tuple[str, bool, str]]:
        return []  # all gathered in round 0 through run.check
