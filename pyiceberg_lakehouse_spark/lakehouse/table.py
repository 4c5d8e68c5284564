"""Lakehouse engine: namespaces, tables, append/overwrite/add_files/scan.

API parity with the reference lifecycle (SURVEY.md §2.7-2.8):

- ``Lakehouse.create_namespace``            (M2, main-daft.py:95-99)
- ``Lakehouse.create_table``                (M3, main-daft.py:102-107)
- ``Lakehouse.load_table``                  (M4, upsert.py:69)
- ``LakehouseTable.append``                 (W6/W8, main-daft.py:121-138)
- ``LakehouseTable.append_many``            (W7 one-snapshot txn, main-polars.py:165-186)
- ``LakehouseTable.overwrite``              (W9, upsert.py:84)
- ``LakehouseTable.add_files``              (W10/Q4, main-ray.py:109-121)
- ``LakehouseTable.scan`` / ``read_snapshot`` (S10/Q5, query_iceberg_duckdb.py:24-29)
- ``LakehouseTable.history`` / ``metadata_location`` (M5/M6, read_history.py:8-11)

Physical layout: each commit writes hive-partitioned zstd parquet into its
own ``data/commit-<n>`` directory (reference: 512 MB target file size,
main-daft.py:106; zstd, main-daft.py:69), so commits never collide and
time travel is pure metadata. Partition values are ALSO stored per-file in
the snapshot log, which makes flat layouts (W3/add_files) equivalent to hive
layouts at scan time and lets the planner prune the file list before Spark
ever sees it (SURVEY.md §4 "custom work" item 1).
"""

from __future__ import annotations

import glob as _glob
import json
import os
import re
import shutil
from functools import reduce
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from pyiceberg_lakehouse_spark.localdf import local_rows_df
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pyiceberg_lakehouse_spark.lakehouse.log import (
    SnapshotLog,
    Snapshot,
    _commit_lock,
)
from pyiceberg_lakehouse_spark.lakehouse.transforms import (
    PartitionField,
    derived_column_typed,
    parse_fields,
    probe_value,
)

_HIVE_SEG = re.compile(r"([^/=]+)=([^/]+)")


def _parse_hive_partition(rel_path: str) -> dict[str, str]:
    """key=value partition segments from a path, PERCENT-DECODED.

    Spark escapes special characters in partition path segments — in the
    KEY as well as the value (``a/b=c`` -> ``a%2Fb%3Dc``); the log must
    store the DECODED pair or a ``partition_filter={"cat": "a/b=c"}``
    prunes away the matching file — a wrong-answer bug, since pruning is
    supposed to be a pure optimization. Logs written before this decode
    (format_version < 2) are decoded once at load (see SnapshotLog.load).
    NULL partitions keep Spark's sentinel string as-is.
    (Empty-string partition values are a Hive-layout limitation: Spark
    writes ``cat=`` and reads it back as NULL — same semantics as plain
    ``partitionBy`` parquet; avoid "" as a partition value.)
    """
    from urllib.parse import unquote

    return {
        unquote(k): unquote(v)
        for k, v in _HIVE_SEG.findall(rel_path.replace(os.sep, "/"))
    }


class Lakehouse:
    """Warehouse root holding ``<namespace>/<table>`` directories.

    ``catalog_uri`` switches name resolution from directory-listing to a
    shared SQL catalog (``sqlite:///path/catalog.db``, mirroring the
    reference's SQL catalog backends, main-daft-psql.py:214-223): the DB
    atomically arbitrates create/rename races across hosts and makes rename
    a pointer update instead of a directory move. Data files and the
    snapshot-log commit protocol are identical either way.
    """

    def __init__(self, spark: SparkSession, warehouse: str, catalog_uri: str | None = None):
        self.spark = spark
        self.warehouse = warehouse
        os.makedirs(warehouse, exist_ok=True)
        if catalog_uri:
            from pyiceberg_lakehouse_spark.lakehouse.catalog import SqlCatalog

            self.catalog: SqlCatalog | None = SqlCatalog(catalog_uri)
        else:
            self.catalog = None

    def create_namespace(self, namespace: str) -> None:
        """Idempotent, like the reference's try/except (main-daft.py:95-99)."""
        os.makedirs(os.path.join(self.warehouse, namespace), exist_ok=True)
        if self.catalog:
            self.catalog.create_namespace(namespace)

    def create_table(
        self,
        identifier: str,
        schema: T.StructType,
        partition_by: list[str] | None = None,
        properties: dict[str, str] | None = None,
        if_not_exists: bool = False,
    ) -> "LakehouseTable":
        ns, name = self._split(identifier)
        self.create_namespace(ns)
        table_dir = os.path.join(self.warehouse, ns, name)
        if self.catalog:
            # the catalog's PK insert is the cross-host arbiter: exactly one
            # creator wins the name; losers see FileExistsError with no
            # check-then-create window
            try:
                self.catalog.register_table(ns, name, table_dir)
            except FileExistsError:
                if if_not_exists:
                    return self.load_table(identifier)
                raise
        log = SnapshotLog(table_dir)
        if log.exists():
            if if_not_exists:
                return LakehouseTable(self.spark, table_dir)
            if not self.catalog:
                raise FileExistsError(
                    f"table {identifier} already exists at {table_dir}"
                )
        props = {"write.target-file-size-bytes": str(512 * 1024 * 1024)}
        props.update(properties or {})
        log.init_table(schema, partition_by or [], props)
        return LakehouseTable(self.spark, table_dir)

    def load_table(self, identifier: str, branch: str | None = None) -> "LakehouseTable":
        ns, name = self._split(identifier)
        if self.catalog:
            table_dir = self.catalog.load_location(ns, name)
            return LakehouseTable(self.spark, table_dir, branch=branch)
        table_dir = os.path.join(self.warehouse, ns, name)
        if not SnapshotLog(table_dir, branch).exists():
            raise FileNotFoundError(
                f"no such table {identifier}"
                + (f" (branch {branch})" if branch else "")
                + f" under {self.warehouse}"
            )
        return LakehouseTable(self.spark, table_dir, branch=branch)

    def drop_table(self, identifier: str) -> None:
        ns, name = self._split(identifier)
        if self.catalog:
            try:
                table_dir = self.catalog.load_location(ns, name)
            except FileNotFoundError:
                return
            self.catalog.drop_table(ns, name)
            shutil.rmtree(table_dir, ignore_errors=True)
            return
        shutil.rmtree(os.path.join(self.warehouse, ns, name), ignore_errors=True)

    def list_namespaces(self) -> list[str]:
        if self.catalog:
            return self.catalog.list_namespaces()
        return sorted(
            d
            for d in os.listdir(self.warehouse)
            if os.path.isdir(os.path.join(self.warehouse, d))
        )

    def list_tables(self, namespace: str) -> list[str]:
        if self.catalog:
            return self.catalog.list_tables(namespace)
        ns_dir = os.path.join(self.warehouse, namespace)
        if not os.path.isdir(ns_dir):
            return []
        return sorted(
            d
            for d in os.listdir(ns_dir)
            if SnapshotLog(os.path.join(ns_dir, d)).exists()
        )

    def register_sql_views(self, prefix: str = "") -> list[str]:
        """Expose every table in the warehouse to ``spark.sql`` as a temp
        view named ``[prefix]namespace_table`` (latest snapshot, deletes
        applied). Views are lazy plans over the current file list; re-call
        after commits to pick up new snapshots. Returns the view names."""
        names = []
        for ns in self.list_namespaces():
            for tbl in self.list_tables(ns):
                view = f"{prefix}{ns}_{tbl}"
                self.load_table(f"{ns}.{tbl}").scan().createOrReplaceTempView(view)
                names.append(view)
        return names

    # ------------------------------------------------------------- views --

    def create_view(self, identifier: str, sql_text: str, replace: bool = False) -> None:
        """CREATE [OR REPLACE] VIEW: store SQL text in the catalog (pure
        metadata, table-size-independent). The SQL references tables by
        their ``namespace_table`` temp-view names (the
        ``register_sql_views`` convention); resolution happens at READ
        time, so a view always reflects each table's LATEST snapshot."""
        ns, name = self._split(identifier)
        if self.catalog:
            self.catalog.register_view(ns, name, sql_text, replace=replace)
            return
        vdir = os.path.join(self.warehouse, ns, ".views")
        os.makedirs(vdir, exist_ok=True)
        path = os.path.join(vdir, f"{name}.json")
        tmp = path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"sql": sql_text}, fh)
        if not replace and os.path.exists(path):
            os.unlink(tmp)
            raise FileExistsError(f"view {identifier} already exists")
        os.replace(tmp, path)

    def read_view(self, identifier: str) -> DataFrame:
        """Resolve a stored view: register every table as a SQL temp view
        (latest snapshots), then run the stored text."""
        ns, name = self._split(identifier)
        if self.catalog:
            sql_text = self.catalog.load_view(ns, name)
        else:
            path = os.path.join(self.warehouse, ns, ".views", f"{name}.json")
            if not os.path.exists(path):
                raise FileNotFoundError(f"no such view {identifier}")
            with open(path) as fh:
                sql_text = json.load(fh)["sql"]
        self.register_sql_views()
        return self.spark.sql(sql_text)

    def list_views(self, namespace: str) -> list[str]:
        if self.catalog:
            return self.catalog.list_views(namespace)
        vdir = os.path.join(self.warehouse, namespace, ".views")
        if not os.path.isdir(vdir):
            return []
        return sorted(
            f[: -len(".json")] for f in os.listdir(vdir) if f.endswith(".json")
        )

    def drop_view(self, identifier: str) -> None:
        ns, name = self._split(identifier)
        if self.catalog:
            self.catalog.drop_view(ns, name)
            return
        path = os.path.join(self.warehouse, ns, ".views", f"{name}.json")
        if os.path.exists(path):
            os.unlink(path)

    def rename_table(self, src: str, dst: str) -> None:
        """Atomic same-warehouse rename (data paths in the log are absolute,
        so the moved log is rewritten to the new locations).

        With a SQL catalog the rename is a pointer UPDATE — O(1), no
        directory move, no log rewrite, any table size."""
        sns, sname = self._split(src)
        dns, dname = self._split(dst)
        if self.catalog:
            self.catalog.rename_table(sns, sname, dns, dname)
            return
        src_dir = os.path.join(self.warehouse, sns, sname)
        dst_dir = os.path.join(self.warehouse, dns, dname)
        if not SnapshotLog(src_dir).exists():
            raise FileNotFoundError(f"no such table {src}")
        if os.path.exists(dst_dir):
            raise FileExistsError(f"table {dst} already exists")
        self.create_namespace(dns)
        os.rename(src_dir, dst_dir)
        prefix = src_dir.rstrip(os.sep) + os.sep
        pos_delete_paths: set[str] = set()
        for branch in [None, *SnapshotLog.branch_names(dst_dir)]:
            log = SnapshotLog(dst_dir, branch).load()
            for snap in log.snapshots:
                for f in snap.added_files:
                    if f["path"].startswith(prefix):
                        f["path"] = os.path.join(dst_dir, f["path"][len(prefix):])
                snap.removed_paths = [
                    os.path.join(dst_dir, p[len(prefix):]) if p.startswith(prefix) else p
                    for p in snap.removed_paths
                ]
                for d in snap.added_deletes:
                    if d["path"].startswith(prefix):
                        d["path"] = os.path.join(dst_dir, d["path"][len(prefix):])
                    if d.get("kind") == "position":
                        pos_delete_paths.add(d["path"])
            log._write()
        # Position-delete parquet CONTENT stores absolute data-file paths
        # (the scan anti-joins on _metadata.file_path): left at the old
        # prefix they would match nothing and every deleted row would
        # silently resurrect (ADVICE r14). Rewrite the file_path column of
        # each delete file to the new prefix — metadata-sized work, done
        # driver-side with pyarrow, atomic per file via tmp + replace.
        if pos_delete_paths:
            import pyarrow as pa
            import pyarrow.parquet as pq

            def _repoint(p: str) -> str:
                # Spark's _metadata.file_path carries a file: URI scheme;
                # the snapshot log stores plain paths — handle both
                scheme = ""
                rest = p
                for sch in ("file://", "file:"):
                    if p.startswith(sch):
                        scheme, rest = sch, p[len(sch):]
                        break
                if rest.startswith(prefix):
                    rest = os.path.join(dst_dir, rest[len(prefix):])
                return scheme + rest

            for dpath in sorted(pos_delete_paths):
                tbl = pq.read_table(dpath)
                col = [
                    _repoint(p) for p in tbl.column("file_path").to_pylist()
                ]
                idx = tbl.schema.get_field_index("file_path")
                tbl = tbl.set_column(
                    idx, "file_path", pa.array(col, pa.string())
                )
                tmp = f"{dpath}.tmp-rename"
                pq.write_table(tbl, tmp)
                os.replace(tmp, dpath)
                # drop Spark's Hadoop checksum sidecar: it hashes the OLD
                # bytes and would fail every later read of the new file
                crc = os.path.join(
                    os.path.dirname(dpath),
                    f".{os.path.basename(dpath)}.crc",
                )
                if os.path.exists(crc):
                    os.unlink(crc)

    @staticmethod
    def _split(identifier: str) -> tuple[str, str]:
        parts = identifier.split(".")
        if len(parts) != 2:
            raise ValueError(f"identifier must be namespace.table, got {identifier!r}")
        return parts[0], parts[1]


class LakehouseTable:
    """Handle over one table directory + its snapshot log (one branch)."""

    def __init__(self, spark: SparkSession, table_dir: str, branch: str | None = None):
        self.spark = spark
        self.table_dir = table_dir
        self.branch = branch if branch not in (None, "main") else None
        self.log = SnapshotLog(table_dir, self.branch).load()

    # ---------------------------------------------------------- branches --

    def create_branch(self, name: str) -> "LakehouseTable":
        """Fork a writable branch at the current head (Git-style).

        The branch is a full copy of this branch's LOG — data files are
        shared and immutable, so forking is metadata-sized no matter how big
        the table is. Writes through the returned handle commit only to the
        branch; this handle's history is untouched. Use ``fast_forward`` to
        land the branch back.
        """
        if name in (None, "", "main"):
            raise ValueError("branch name must be a non-empty name other than 'main'")
        dst = SnapshotLog(self.table_dir, name)
        if dst.exists():
            raise FileExistsError(f"branch {name!r} already exists")
        src = SnapshotLog(self.table_dir, self.branch).load()
        dst.schema_json = src.schema_json
        dst.partition_by = src.partition_by
        dst.properties = dict(src.properties)
        dst.snapshots = src.snapshots
        dst.refs = dict(src.refs)
        dst._write()
        return LakehouseTable(self.spark, self.table_dir, branch=name)

    def branches(self) -> list[str]:
        return SnapshotLog.branch_names(self.table_dir)

    def drop_branch(self, name: str) -> None:
        log = SnapshotLog(self.table_dir, name)
        if os.path.exists(log.path):
            os.unlink(log.path)
        shutil.rmtree(log.entry_dir, ignore_errors=True)

    def write_audit_publish(
        self,
        df: DataFrame,
        audits: list | None = None,
        branch: str = "_wap",
    ) -> Snapshot:
        """The WAP pattern in one call: stage ``df`` on a throwaway branch,
        run audits against the branch's FULL post-write state (not just the
        batch — cross-batch invariants like key uniqueness need the whole
        table), publish with an atomic fast-forward only if every audit
        passes. Main never exposes unaudited data; a failed audit leaves
        main byte-identical and drops the branch.

        ``audits``: callables ``(DataFrame) -> bool`` over the staged scan.
        Table CHECK constraints apply at the staged append as usual.
        """
        staged = self.create_branch(branch)
        try:
            staged.append(df)
            view = staged.scan()
            for i, audit in enumerate(audits or []):
                if not audit(view):
                    raise ValueError(
                        f"WAP audit #{i} ({getattr(audit, '__name__', 'audit')}) "
                        "failed; nothing published"
                    )
            self.fast_forward(branch)
            return self.log.snapshots[-1]
        finally:
            self.drop_branch(branch)

    def fast_forward(self, from_branch: str) -> None:
        """Land ``from_branch`` onto THIS branch, fast-forward only.

        Valid iff this branch's history is a strict prefix of the source
        branch's (nothing committed here since the fork) — then the merge is
        one atomic log swap, exactly Git's fast-forward. Diverged histories
        raise; rebase by replaying the branch's operations instead.
        """
        with _commit_lock(self.table_dir):
            ours = SnapshotLog(self.table_dir, self.branch).load()
            theirs = SnapshotLog(self.table_dir, from_branch).load()
            # prefix equality by full snapshot CONTENT — ids alone are
            # sequential ints, so two diverged histories can share them
            ours_snaps = [s.to_json() for s in ours.snapshots]
            theirs_snaps = [s.to_json() for s in theirs.snapshots]
            if theirs_snaps[: len(ours_snaps)] != ours_snaps:
                raise RuntimeError(
                    f"branch {from_branch!r} diverged from "
                    f"{self.branch or 'main'}; fast-forward impossible"
                )
            ours.schema_json = theirs.schema_json
            ours.partition_by = theirs.partition_by
            ours.properties = dict(theirs.properties)
            ours.snapshots = theirs.snapshots
            ours.refs = dict(theirs.refs)
            ours._write()
        self.log.load()

    # ---------------------------------------------------------- metadata --

    @property
    def cdf_enabled(self) -> bool:
        """Table property ``change-data-feed=true``: copy-on-write mutation
        commits also persist their row-level delta as change-data files
        (Delta's ``enableChangeDataFeed``), which keeps ``table_changes``
        and the streaming change-feed source metadata-planned across
        rewrites — at 100 TB the difference between reading the delta and
        diffing two table states."""
        return (
            self.log.properties.get("change-data-feed", "").lower() == "true"
        )

    def set_properties(self, props: dict[str, str]) -> None:
        """ALTER TABLE SET TBLPROPERTIES (atomic, metadata-only)."""
        self.log.set_properties(props)

    @property
    def metadata_location(self) -> str:
        """M6 (read_history.py:8)."""
        return self.log.path

    def write_external_manifest(
        self, path: str | None = None, snapshot_id: int | None = None
    ) -> str:
        """Emit a FOREIGN-ENGINE-READABLE manifest of one snapshot's live
        data files: NDJSON, one object per file with the absolute path,
        hive partition values, row count and the resolved snapshot id.
        Closes the reference's external-interop surface
        (query_iceberg_duckdb.py:24-27, iceberg_scan('<metadata>')): an
        engine that can read JSON + parquet resolves the table from this
        file alone — e.g. DuckDB via read_json_auto(manifest) ->
        read_parquet(list of paths) — with none of this engine's code in
        the loop. Metadata-only (never opens a data file) and atomic
        (tmp + rename), so a concurrent reader never sees a torn
        manifest. Default path: <table_dir>/_external_manifest.json.

        Honest gate: a snapshot with pending merge-on-read equality
        deletes raises — a foreign engine reading the file list alone
        would resurrect deleted rows; compact (rewrite) first, exactly
        the constraint Iceberg puts on v2 readers without delete-file
        support."""
        import uuid

        if self.log.live_deletes(snapshot_id):
            raise NotImplementedError(
                "external manifest of a snapshot with pending merge-on-read"
                " deletes: a file-list-only reader would resurrect deleted"
                " rows — compact first"
            )
        resolved = (
            snapshot_id
            if snapshot_id is not None
            else self.log.current_snapshot_id()
        )
        if path is None:
            path = os.path.join(self.table_dir, "_external_manifest.json")
        tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w", encoding="utf-8") as fh:
            for f in self.log.live_files(snapshot_id):
                fh.write(
                    json.dumps(
                        {
                            "path": os.path.abspath(f["path"]),
                            "partition": f.get("partition", {}),
                            "rows": f.get("rows"),
                            "snapshot_id": resolved,
                            "format": "parquet",
                        }
                    )
                    + "\n"
                )
        os.replace(tmp, path)
        return path

    def schema(self) -> T.StructType:
        """M7 (main-daft.py:142)."""
        return self.log.schema()

    def history(self) -> list[Snapshot]:
        """M5 (read_history.py:10-11)."""
        return list(self.log.snapshots)

    def current_snapshot_id(self) -> int | None:
        return self.log.current_snapshot_id()

    @property
    def partition_fields(self) -> list[PartitionField]:
        """Parsed partition spec — identity and transform fields alike."""
        return parse_fields(self.log.partition_by)

    @property
    def partition_names(self) -> list[str]:
        """Partition directory keys (identity: source name; transforms:
        ``<source>_<transform>``)."""
        return [pf.name for pf in self.partition_fields]

    def partition_probe(self, source_filter: dict[str, Any]) -> dict[str, str]:
        """Map SOURCE-column equality values to the partition values they
        land in — hidden partitioning's pruning hook: callers filter on the
        source column; this derives the partition_filter for scan()."""
        schema = self.schema()
        out: dict[str, str] = {}
        for pf in self.partition_fields:
            if pf.source in source_filter:
                dtype = schema[pf.source].dataType.simpleString()
                out[pf.name] = probe_value(
                    self.spark, pf, source_filter[pf.source], dtype
                )
        return out

    def add_column(self, name: str, dtype: T.DataType) -> None:
        """Schema evolution: append a nullable column (metadata-only).

        Files written before the change simply lack the column; Spark's
        schema-projected read returns NULL for it — the same read-side
        semantics as Iceberg's add-column evolution."""
        schema = self.schema()
        if name in schema.fieldNames():
            raise ValueError(f"column {name!r} already exists")
        self.log.schema_json = T.StructType(
            [*schema.fields, T.StructField(name, dtype, True)]
        ).json()
        self.log.commit("schema_change", [], summary={"add_column": name})

    def drop_column(self, name: str) -> None:
        """Schema evolution: drop a column (metadata-only projection change).

        Data files keep the bytes; reads simply stop projecting the column
        — Iceberg's drop-column semantics. Partition columns can't drop."""
        if name in {pf.source for pf in self.partition_fields}:
            raise ValueError(f"cannot drop partition column {name!r}")
        schema = self.schema()
        if name not in schema.fieldNames():
            raise KeyError(f"no such column {name!r}")
        self.log.schema_json = T.StructType(
            [f for f in schema.fields if f.name != name]
        ).json()
        self.log.commit("schema_change", [], summary={"drop_column": name})

    def rename_column(self, old: str, new: str) -> None:
        """Schema evolution: rename a column without rewriting any data
        (Iceberg's flagship rename semantics).

        Metadata-only: the rename is recorded in the snapshot log, and the
        read path maps each file's HISTORICAL column name forward based on
        when the file was added vs when renames committed — so files written
        before the rename keep serving under the new name. Partition source
        columns can't be renamed (their name is baked into data paths and
        partition specs); rewrite via partition-spec evolution instead.
        """
        schema = self.schema()
        if old not in schema.names:
            raise KeyError(f"column {old!r} not in schema {schema.names}")
        if new in schema.names:
            raise ValueError(f"column {new!r} already exists")
        part_sources = {pf.source for pf in self.partition_fields}
        if old in part_sources or old in self.partition_names:
            raise ValueError(f"{old!r} is a partition source/name; cannot rename")
        self.log.schema_json = T.StructType(
            [
                f if f.name != old else T.StructField(new, f.dataType, f.nullable)
                for f in schema.fields
            ]
        ).json()
        self.log.commit(
            "schema_change", [], summary={"rename_column": {"from": old, "to": new}}
        )

    def promote_column(self, name: str, new_type: T.DataType) -> None:
        """Schema evolution: widen a column's type (metadata-only), the
        Iceberg type-promotion rules — int -> long, float -> double,
        decimal(P,S) -> decimal(P',S) with P' > P. No data rewrite:
        Spark's parquet reader serves old narrow-typed files under the
        widened read schema natively (int32 pages as bigint, float as
        double, rescaled decimals), and the epoch/conform read path casts
        explicitly, so files written before and after the promotion read
        under one schema. Narrowing or cross-family changes are rejected
        — they would silently corrupt or fail old files at read time."""
        schema = self.schema()
        if name not in schema.fieldNames():
            raise KeyError(f"no such column {name!r}")
        old = schema[name].dataType
        ok = (
            (isinstance(old, T.IntegerType) and isinstance(new_type, T.LongType))
            or (isinstance(old, T.FloatType) and isinstance(new_type, T.DoubleType))
            or (
                isinstance(old, T.DecimalType)
                and isinstance(new_type, T.DecimalType)
                and new_type.scale == old.scale
                and new_type.precision > old.precision
            )
        )
        if not ok:
            raise ValueError(
                f"illegal type promotion {old.simpleString()} -> "
                f"{new_type.simpleString()}; allowed: int->bigint, "
                "float->double, decimal precision widening at equal scale"
            )
        self.log.schema_json = T.StructType(
            [
                f
                if f.name != name
                else T.StructField(name, new_type, f.nullable)
                for f in schema.fields
            ]
        ).json()
        self.log.commit(
            "schema_change",
            [],
            summary={
                "promote_column": {
                    "name": name,
                    "from": old.simpleString(),
                    "to": new_type.simpleString(),
                }
            },
        )

    def _rename_events(self) -> list[tuple[int, str, str]]:
        """(snapshot_id, old, new) for every committed rename, in order —
        including events stashed as ``rename_history`` by snapshot expiry
        (the rename's own snapshot may no longer exist)."""
        out = []
        for s in self.log.snapshots:
            for h in s.summary.get("rename_history", []):
                out.append((h["snapshot_id"], h["from"], h["to"]))
            rc = s.summary.get("rename_column")
            if rc:
                out.append((s.snapshot_id, rc["from"], rc["to"]))
        return sorted(out)

    def _column_events(self) -> list[tuple[int, str, str]]:
        """(snapshot_id, op, name) for add/drop column commits — including
        events stashed as ``column_history`` by snapshot expiry."""
        out = []
        for s in self.log.snapshots:
            for h in s.summary.get("column_history", []):
                out.append((h["snapshot_id"], h["op"], h["name"]))
            if "add_column" in s.summary:
                out.append((s.snapshot_id, "add", s.summary["add_column"]))
            if "drop_column" in s.summary:
                out.append((s.snapshot_id, "drop", s.summary["drop_column"]))
        return sorted(out)

    def _readded_null_cols(self, added_in: int) -> set[str]:
        """Columns that must read as NULL from files of epoch ``added_in``:
        a drop-then-re-add of the same name after the file was written means
        the file's bytes for that name are STALE (pre-drop data), not the
        re-added column's values — without field ids, name-based resolution
        would silently resurrect them."""
        events = self._column_events()
        nulls = set()
        for f in self.schema().fields:
            drop_after = [
                sid for sid, op, n in events if op == "drop" and n == f.name and sid > added_in
            ]
            if not drop_after:
                continue
            readd = [
                sid for sid, op, n in events if op == "add" and n == f.name and sid > drop_after[0]
            ]
            if readd:
                nulls.add(f.name)
        return nulls

    def _forward_names(self, names: list[str], since_snapshot: int) -> list[str]:
        """Map column names recorded at ``since_snapshot`` forward through
        every rename committed after it, yielding current-schema names."""
        renames = self._rename_events()
        out = []
        for n in names:
            cur = n
            for sid, old, new in renames:
                if sid > since_snapshot and cur == old:
                    cur = new
            out.append(cur)
        return out

    def _historical_names(self, added_in: int) -> dict[str, str]:
        """current column name -> the name it had when a file committed in
        snapshot ``added_in`` was written (walk renames newest-first)."""
        renames = self._rename_events()
        mapping = {}
        for f in self.schema().fields:
            name = f.name
            for sid, old, new in reversed(renames):
                if sid > added_in and name == new:
                    name = old
            mapping[f.name] = name
        return mapping

    def update_partition_spec(self, new_specs: list[str]) -> Snapshot:
        """Partition evolution (metadata-only): future writes use the new
        spec; existing files keep theirs and stay readable.

        The classic move is granularity: ``["month(ts)"] -> ["day(ts)"]``
        as a table grows. Restriction: the IDENTITY column set must not
        change — identity columns are physically absent from data files, so
        altering that set would change the data schema of past files.
        Transform changes are free because transform sources always stay in
        the data. Scans stay correct across the boundary: metadata pruning
        keeps files that lack a probed partition key (conservative), and
        ``compact()`` rewrites history onto the current spec.
        """
        old_identity = {pf.source for pf in self.partition_fields if pf.is_identity}
        new_fields = parse_fields(new_specs)
        new_identity = {pf.source for pf in new_fields if pf.is_identity}
        if old_identity != new_identity:
            raise ValueError(
                f"identity partition columns must not change "
                f"({sorted(old_identity)} -> {sorted(new_identity)}); "
                "create a new table and rewrite instead"
            )
        schema_cols = set(self.schema().fieldNames())
        for pf in new_fields:
            if pf.source not in schema_cols:
                raise KeyError(f"partition source column {pf.source!r} not in schema")
        old = list(self.log.partition_by)
        self.log.partition_by = list(new_specs)
        return self.log.commit(
            "schema_change",
            [],
            summary={"partition_spec": {"from": old, "to": list(new_specs)}},
        )

    # ------------------------------------------------------------ writes --

    def _validate_constraints(self, df: DataFrame) -> None:
        """Enforce table CHECK constraints (properties ``check.<name>`` =
        SQL predicate) on incoming data before any file is written.

        SQL-standard semantics: a row violates only when the predicate is
        FALSE (NULL passes). One short-circuiting job per constraint
        (limit(1)), proportional to the batch — never the table. Enforced on
        the table-API write paths (append/overwrite/replace); the
        ``format("lakehouse")`` writer commits via the log directly and does
        not validate."""
        checks = {
            k[len("check.") :]: v
            for k, v in self.log.properties.items()
            if k.startswith("check.")
        }
        for name, pred in checks.items():
            bad = df.filter(
                ~F.coalesce(F.expr(pred), F.lit(True))
            ).limit(1).collect()
            if bad:
                raise ValueError(
                    f"CHECK constraint {name!r} ({pred}) violated, e.g. {bad[0]}"
                )

    def append(
        self,
        df: DataFrame,
        summary: dict[str, Any] | None = None,
        retries: int = 3,
    ) -> Snapshot:
        """One append = one snapshot (W6/W8, main-daft.py:137).

        ``retries``: appends commute, so on a concurrent-commit conflict the
        log refreshes to the winner's state and retries BY DEFAULT — the
        optimistic multi-writer story (data files are already on disk under
        a unique commit dir; only the metadata commit re-runs). Conflicting
        overwrite/replace/delete commits still error (COMMUTATIVE_OPS in
        lakehouse/log.py); set ``retries=0`` for strict single-writer mode.
        """
        self._validate_constraints(df)
        files = self._write_data(df)
        return self._commit("append", files, summary=summary, retry_conflicts=retries)

    def append_many(self, dfs: list[DataFrame]) -> Snapshot:
        """Transactional multi-append: N writes, ONE snapshot (W7,
        main-polars.py:165-186). The union is a single Spark job."""
        df = reduce(DataFrame.unionByName, dfs)
        self._validate_constraints(df)
        files = self._write_data(df)
        return self._commit("append", files, summary={"batches": len(dfs)})

    def overwrite(
        self,
        df: DataFrame,
        summary: dict[str, Any] | None = None,
        change_rows: DataFrame | None = None,
    ) -> Snapshot:
        """Atomic replace of the table contents (W9, upsert.py:84).

        ``change_rows`` (data columns + ``_change_type``): the caller's
        row-level delta for this overwrite — persisted as change-data files
        when the change feed is enabled, so even a full-table MERGE stays
        metadata-plannable for feed consumers."""
        self._validate_constraints(df)
        summary = dict(summary or {})
        if change_rows is not None and self.cdf_enabled:
            summary["change-data-files"] = self._write_change_data(change_rows)
        files = self._write_data(df)
        return self._commit("overwrite", files, summary=summary)

    def replace_partitions(
        self,
        df: DataFrame,
        partitions: list[dict[str, str]],
        retries: int = 3,
        change_rows: DataFrame | None = None,
    ) -> Snapshot:
        """Swap only the listed partitions' files for ``df``'s data — the
        partition-scoped rewrite used by upsert at scale (SURVEY.md §7 step 4).

        Conflict detection is partition-scoped (Iceberg-style overwrite
        validation): a concurrent commit that touched NONE of the listed
        partitions rebase-retries up to ``retries`` times instead of
        failing — disjoint partition-scoped writers land concurrently; a
        writer that added to or removed from a listed partition still
        surfaces the conflict."""
        removed = [
            f["path"]
            for f in self.log.live_files()
            if any(all(f["partition"].get(k) == v for k, v in p.items()) for p in partitions)
        ]
        summary: dict[str, Any] = {"partitions": partitions}
        if change_rows is not None and self.cdf_enabled:
            summary["change-data-files"] = self._write_change_data(change_rows)
        files = self._write_data(df)
        return self._commit("replace", files, removed_paths=removed,
                            summary=summary,
                            retry_conflicts=retries,
                            touched_partitions=partitions)

    def add_files(
        self,
        paths: list[str],
        partition_values: dict[str, str] | None = None,
        batch_size: int = 100,
        retries: int = 3,
    ) -> list[Snapshot]:
        """Metadata-only registration — no data is read or moved (W10/Q4,
        main-ray.py:109-121, batches of 100). Commutes with concurrent
        appends, so conflicts rebase-retry by default like ``append``."""
        snaps = []
        for i in range(0, len(paths), batch_size):
            batch = paths[i : i + batch_size]
            files = [
                {"path": p, "partition": dict(partition_values or {}), "rows": None}
                for p in batch
            ]
            snaps.append(
                self._commit(
                    "add_files",
                    files,
                    summary={"batch": i // batch_size},
                    retry_conflicts=retries,
                )
            )
        return snaps

    def rollback_to(self, snapshot_id: int) -> Snapshot:
        """Restore an earlier snapshot's state as a NEW snapshot (history is
        preserved — this is Iceberg's rollback, not a history rewrite).

        Metadata-only: the restoring snapshot re-lists the old file set; no
        data moves. Merge-on-read deletes issued after the target stop
        applying because the restored entries keep their original
        ``added_in`` — strictly older than any later delete — so the commit
        clears them by materializing the target state's delete set too.
        """
        target_files = self.log.live_files(snapshot_id)
        target_deletes = self.log.live_deletes(snapshot_id)
        # one atomic overwrite commit carrying the full restored state; the
        # original added_in / delete snapshot_id values are preserved so
        # merge-on-read sequencing is identical to the target snapshot's
        return self.log.commit(
            "overwrite",
            [dict(f) for f in target_files],
            summary={"op": "rollback", "to": snapshot_id},
            added_deletes=[dict(d) for d in target_deletes],
            preserve_sequencing=True,
        )

    def delete_where(
        self,
        predicate,
        stat_filter: dict[str, tuple] | None = None,
    ) -> Snapshot:
        """Copy-on-write row deletion: rewrite ONLY the files that might
        contain matching rows, keep the rest as metadata.

        ``stat_filter`` (same shape as scan's) narrows the rewrite set via
        per-file min/max bounds — at 100 TB a date-ranged purge rewrites
        the few files whose bounds overlap, not the table. Complement of
        ``delete_keys`` (merge-on-read): this pays the rewrite now and
        keeps reads zero-cost.

        Concurrency is SNAPSHOT-isolation shaped: the conflict check is
        scoped to the rewritten files' partitions, so a concurrent commit
        entirely elsewhere rebase-retries instead of failing; the delete
        applies to rows as of the planning snapshot (a concurrent append
        of matching rows into an untouched partition survives — re-run
        the delete to cover it). A winner touching a rewritten partition
        still errors.
        """
        from pyiceberg_lakehouse_spark.lakehouse.stats import prune_files

        files = self.log.live_files()
        touched = prune_files(files, stat_filter) if stat_filter else files
        if not touched:
            return self._commit("replace", [], summary={"op": "delete_where"})
        rows = self._read_files_with_deletes(touched)
        # SQL DELETE removes rows where the predicate is TRUE; a NULL
        # predicate keeps the row (filter(~pred) would silently drop it)
        hit = F.coalesce(predicate, F.lit(False))
        kept_rows = rows.filter(~hit)
        summary: dict[str, Any] = {
            "op": "delete_where",
            "rewritten_files": len(touched),
        }
        if self.cdf_enabled:
            deleted = (
                rows.filter(hit)
                .select(*self.schema().fieldNames())
                .withColumn("_change_type", F.lit("delete"))
            )
            summary["change-data-files"] = self._write_change_data(deleted)
        new_files = self._write_data(kept_rows)
        return self._commit(
            "replace",
            new_files,
            removed_paths=[f["path"] for f in touched],
            summary=summary,
            retry_conflicts=3,
            touched_partitions=_partitions_of(touched),
        )

    def update_where(
        self,
        predicate,
        assignments: dict[str, Any],
        stat_filter: dict[str, tuple] | None = None,
    ) -> Snapshot:
        """Copy-on-write ``UPDATE ... SET ... WHERE``: rewrite ONLY the
        files that might contain matching rows; every other file survives
        as untouched metadata.

        ``assignments`` maps column name -> Column expression (or literal)
        evaluated over the matching row; non-matching rows in a rewritten
        file are carried through byte-for-value unchanged. ``stat_filter``
        (scan's shape) narrows the rewrite set via per-file min/max
        bounds — at 100 TB a date-ranged repricing rewrites the files
        whose bounds overlap, not the table. Assignments to partition or
        constraint columns are validated by the normal write path.
        Concurrency matches ``delete_where``: partition-scoped conflict
        detection, snapshot-isolation semantics for concurrent appends
        landing outside the rewritten partitions.
        """
        from pyiceberg_lakehouse_spark.lakehouse.stats import prune_files

        schema = self.schema()
        unknown = [c for c in assignments if c not in schema.fieldNames()]
        if unknown:
            raise ValueError(f"UPDATE of unknown columns {unknown}")
        files = self.log.live_files()
        touched = prune_files(files, stat_filter) if stat_filter else files
        if not touched:
            return self._commit("replace", [], summary={"op": "update_where"})
        rows = self._read_files_with_deletes(touched)
        cols = []
        for name in schema.fieldNames():
            if name in assignments:
                v = assignments[name]
                val = v if hasattr(v, "cast") else F.lit(v)
                cols.append(
                    F.when(predicate, val)
                    .otherwise(F.col(name))
                    .cast(schema[name].dataType)
                    .alias(name)
                )
            else:
                cols.append(F.col(name))
        updated = rows.select(*cols)
        self._validate_constraints(updated)
        summary: dict[str, Any] = {
            "op": "update_where",
            "rewritten_files": len(touched),
        }
        if self.cdf_enabled:
            # delta = rows where the predicate holds AND some assigned
            # column actually changes value (no-op assignments emit
            # nothing, keeping the feed exactly equal to the state diff);
            # pre-image rows tag 'delete', post-images 'insert'
            diffs = []
            for name, v in assignments.items():
                val = v if hasattr(v, "cast") else F.lit(v)
                diffs.append(
                    ~F.col(name).eqNullSafe(val.cast(schema[name].dataType))
                )
            changed = F.coalesce(predicate, F.lit(False)) & reduce(
                lambda a, b: a | b, diffs
            )
            data_cols = schema.fieldNames()
            marked = rows.withColumn("_cdf_hit", changed)
            pre = (
                marked.filter("_cdf_hit")
                .select(*data_cols)
                .withColumn("_change_type", F.lit("delete"))
            )
            post = (
                marked.filter("_cdf_hit")
                .select(*cols)
                .select(*data_cols)
                .withColumn("_change_type", F.lit("insert"))
            )
            summary["change-data-files"] = self._write_change_data(
                pre.unionByName(post)
            )
        new_files = self._write_data(updated)
        return self._commit(
            "replace",
            new_files,
            removed_paths=[f["path"] for f in touched],
            summary=summary,
            retry_conflicts=3,
            touched_partitions=_partitions_of(touched),
        )

    def delete_keys(self, keys: DataFrame, key_cols: list[str]) -> Snapshot:
        """Merge-on-read equality delete: write the keys as a delete file,
        commit metadata — NO data rewrite (the read side anti-joins).

        Sequencing matches Iceberg's: a delete applies only to data files
        committed strictly BEFORE it, so re-inserting a deleted key later is
        visible. ``compact()`` (a replace) materializes deletes away.
        """
        import uuid

        del_dir = os.path.join(
            self.table_dir, "deletes", f"d-{(self.log.current_snapshot_id() or 0) + 1}-{uuid.uuid4().hex[:8]}"
        )
        keys.select(*key_cols).distinct().write.mode("error").parquet(del_dir)
        paths = sorted(_glob.glob(os.path.join(del_dir, "*.parquet")))
        return self._commit(
            "delete",
            [],
            added_deletes=[{"path": p, "key_cols": key_cols} for p in paths],
            summary={"key_cols": key_cols},
        )

    def delete_where_positions(self, condition) -> Snapshot:
        """Merge-on-read POSITION delete (the other Iceberg v2 delete-file
        form): matching rows are identified by (data file, row ordinal) —
        Spark's native ``_metadata.file_path``/``row_index`` — written to
        a position-delete file, and committed metadata-only. NO data
        rewrite, NO key columns required (works on tables with no natural
        key, where ``delete_keys`` cannot).

        Sequencing matches ``delete_keys``: the delete applies only to
        data files committed strictly BEFORE it, so later appends —
        including rows identical to deleted ones — stay visible.
        ``compact()`` materializes position deletes away like equality
        ones. ``purge_rows`` refuses while position deletes are pending
        (a history rewrite would shift the ordinals they point at).
        """
        import uuid

        files = self.log.live_files()
        hits = (
            self._read_files(files, with_pos=True)
            .filter(condition)
            .select(
                F.col("__lh_fp").alias("file_path"),
                F.col("__lh_pos").alias("pos"),
            )
        )
        del_dir = os.path.join(
            self.table_dir,
            "deletes",
            f"pd-{(self.log.current_snapshot_id() or 0) + 1}-{uuid.uuid4().hex[:8]}",
        )
        hits.write.mode("error").parquet(del_dir)
        paths = sorted(_glob.glob(os.path.join(del_dir, "*.parquet")))
        return self._commit(
            "delete",
            [],
            added_deletes=[{"path": p, "kind": "position"} for p in paths],
            summary={"kind": "position"},
        )

    # ------------------------------------------------------------- reads --

    def scan(
        self,
        snapshot_id: int | None = None,
        partition_filter: dict[str, str] | None = None,
        stat_filter: dict[str, tuple] | None = None,
        bloom_filter: dict[str, Any] | None = None,
        partition_filter_any: list[dict[str, str]] | None = None,
        bloom_filter_any: dict[str, list[Any]] | None = None,
    ) -> DataFrame:
        """Snapshot-aware scan (S10/Q5). Partition pruning AND min/max file
        skipping happen HERE, on the metadata file list, before Spark plans
        the read — a 100 TB scan with a selective predicate only ever lists
        the files whose bounds can match.

        ``stat_filter``: {col: (op, value)}, op in =, <, <=, >, >= — apply
        the SAME predicate in the query too (skipping is file-granular).
        ``bloom_filter``: {col: value} equality probes against per-file
        bloom filters (tables with ``write.bloom-columns``) — prunes point
        lookups that min/max bounds can't.
        ``bloom_filter_any``: {col: [values]} IN-list / join-key probes —
        a file survives if ANY key might be present. This is how a
        bloom-reduced join plans its fact scan: the dim side's bounded key
        set prunes whole files before Spark ever lists them.
        """
        from pyiceberg_lakehouse_spark.lakehouse.stats import prune_files

        files = self.log.live_files(snapshot_id)
        if partition_filter_any:
            # IN-list over COMPOSITE partition values: keep a file if any
            # candidate dict fully matches. One metadata prune, one read node
            # — plan size stays constant no matter how many partitions the
            # caller touches (vs. a per-partition scan+union loop). Missing
            # keys (older spec) keep the file, same conservative rule as
            # partition_filter.
            files = [
                f
                for f in files
                if any(
                    all(
                        k not in f["partition"] or f["partition"][k] == v
                        for k, v in pv.items()
                    )
                    for pv in partition_filter_any
                )
            ]
        if partition_filter:
            # conservative: a file written under an OLDER partition spec may
            # lack the key — keep it (skipping is an optimization; the
            # query's residual filter owns correctness)
            files = [
                f
                for f in files
                if all(
                    k not in f["partition"] or f["partition"][k] == v
                    for k, v in partition_filter.items()
                )
            ]
        if stat_filter:
            files = prune_files(files, stat_filter)
        if bloom_filter:
            from pyiceberg_lakehouse_spark.lakehouse.bloom import prune_files_bloom

            files = prune_files_bloom(self.spark, files, bloom_filter)
        if bloom_filter_any:
            from pyiceberg_lakehouse_spark.lakehouse.bloom import (
                prune_files_bloom_any,
            )

            for col, values in bloom_filter_any.items():
                files = prune_files_bloom_any(self.spark, files, col, values)
        return self._read_files_with_deletes(files, snapshot_id)

    def _read_files_with_deletes(
        self, files: list[dict[str, Any]], snapshot_id: int | None = None
    ) -> DataFrame:
        """Read a file list with the snapshot's applicable merge-on-read
        equality deletes anti-joined — ``scan()``'s delete semantics
        restricted to ``files``.

        Every rewrite that reads a SUBSET of live files
        (``refresh_ann_indexes`` reads only index-stale files,
        ``delete_where``/``update_where`` only the touched ones) must route
        through this, not ``_read_files``: a rewrite's output files get
        ``added_in`` newer than every delete snapshot, so sequencing exempts
        them from those deletes — rows deleted after the source file was
        added would otherwise permanently resurrect in the rewrite.
        """
        deletes = self.log.live_deletes(snapshot_id)
        if not deletes:
            return self._read_files(files)
        # sequence-aware merge-on-read: a delete applies only to files added
        # strictly before it. Files are classed by their applicable-delete
        # set; each class anti-joins its deletes, classes union.
        classes: dict[tuple, list] = {}
        for f in files:
            applicable = tuple(
                i for i, d in enumerate(deletes) if f.get("added_in", 0) < d["snapshot_id"]
            )
            classes.setdefault(applicable, []).append(f)
        result = None
        for applicable, flist in sorted(classes.items()):
            pos_paths = [
                deletes[i]["path"]
                for i in applicable
                if deletes[i].get("kind") == "position"
            ]
            df = self._read_files(flist, with_pos=bool(pos_paths))
            # delete files carry the key column names AS OF their commit; a
            # later rename_column means the anti-join key must be mapped
            # forward to the current schema (hist name in the file, current
            # name in df) — group by both so unrenamed tables batch as before
            by_keys: dict[tuple, list[str]] = {}
            for i in applicable:
                if deletes[i].get("kind") == "position":
                    continue
                hist = tuple(deletes[i]["key_cols"])
                cur = tuple(self._forward_names(list(hist), deletes[i]["snapshot_id"]))
                by_keys.setdefault((hist, cur), []).append(deletes[i]["path"])
            for (hist, cur), paths in sorted(by_keys.items()):
                dkeys = (
                    self.spark.read.parquet(*paths)
                    .select(
                        *[F.col(h).alias(c) for h, c in zip(hist, cur)]
                    )
                    .distinct()
                )
                df = df.join(dkeys, on=list(cur), how="left_anti")
            if pos_paths:
                # position deletes: anti-join on the scan's own row
                # identity — (file path, ordinal) as Spark's _metadata
                # reports them, stored verbatim by delete_where_positions
                dpos = (
                    self.spark.read.parquet(*pos_paths)
                    .select(
                        F.col("file_path").alias("__lh_fp"),
                        F.col("pos").alias("__lh_pos"),
                    )
                    .distinct()
                )
                df = df.join(
                    dpos, on=["__lh_fp", "__lh_pos"], how="left_anti"
                ).drop("__lh_fp", "__lh_pos")
            result = df if result is None else result.unionByName(df)
        return result if result is not None else self._read_files(files)

    def read_snapshot(self, snapshot_id: int) -> DataFrame:
        """Time travel to an exact snapshot (Q5 variant)."""
        return self.scan(snapshot_id=snapshot_id)

    def read_as_of(self, timestamp_ms: int) -> DataFrame:
        """Time travel by wall clock: the table as of ``timestamp_ms``."""
        return self.scan(snapshot_id=self.log.snapshot_at(timestamp_ms))

    def tag(self, name: str, snapshot_id: int | None = None) -> int:
        """Pin a named tag to a snapshot (default: current head).

        Tags make reads reproducible by name — ``read_tag("train-v1")``
        returns the same rows forever, regardless of later appends."""
        sid = snapshot_id if snapshot_id is not None else self.log.current_snapshot_id()
        self.log.set_ref(name, sid)
        return sid

    def read_tag(self, name: str) -> DataFrame:
        self.log.load()
        if name not in self.log.refs:
            raise KeyError(f"tag {name!r} not found; have {sorted(self.log.refs)}")
        return self.scan(snapshot_id=self.log.refs[name])

    def read_incremental(
        self, from_snapshot: int, to_snapshot: int | None = None
    ) -> DataFrame:
        """Rows APPENDED after ``from_snapshot`` up to ``to_snapshot``
        (default: head) — Iceberg-style incremental scan.

        Metadata-only planning: the file list is every ``added_files`` entry
        of append/add_files snapshots in the interval, so a consumer polling
        a 100 TB table reads just the delta, never the table. Overwrite and
        replace snapshots in the interval raise: their rewritten files do
        not represent an append-only delta (same contract as Iceberg's
        incremental read and our streaming source).
        """
        ids = [s.snapshot_id for s in self.log.snapshots]
        if from_snapshot not in ids:
            raise KeyError(f"snapshot {from_snapshot} not found")
        hi = to_snapshot if to_snapshot is not None else ids[-1]
        files: list[dict[str, Any]] = []
        for snap in self.log.snapshots:
            if snap.snapshot_id <= from_snapshot or snap.snapshot_id > hi:
                continue
            # compaction / z-order rewrites commit data-change=false: the
            # row multiset is untouched, so incremental consumers skip them
            # (Delta's dataChange=false semantics) instead of erroring
            if snap.summary.get("data-change") is False:
                continue
            if snap.operation in ("overwrite", "replace", "delete"):
                raise ValueError(
                    f"snapshot {snap.snapshot_id} is {snap.operation!r}; "
                    "incremental read covers append-only history"
                )
            files.extend(snap.added_files)
        return self._read_files(files)

    def table_changes(
        self, from_snapshot: int, to_snapshot: int | None = None
    ) -> DataFrame:
        """Row-level change feed between two snapshots — the batch CDF
        (Delta ``table_changes`` / Iceberg ``changelog`` shape): every row
        tagged ``_change_type`` 'insert' or 'delete'; an update surfaces
        as its delete+insert pair. Unlike ``read_incremental`` this covers
        ANY history, not just appends.

        Three plans, chosen from the log alone (cheapest that applies):

        - append-only interval: inserts come straight from the interval's
          added files (metadata-planned; the table is never rescanned and
          no diff runs) — the 100 TB polling path;
        - interval whose rewrites all carry change-data files (table
          property ``change-data-feed=true``; compaction/z-order commits
          are data-change=false and skip entirely): the feed is the NET of
          the per-commit deltas — ``exceptAll`` cancellation runs over the
          DELTA rows only, never a table state, so cost is proportional to
          what changed;
        - anything else (rewrite without CDF, merge-on-read deletes,
          renames since the cursor): a full multiset diff of the two
          snapshot states (``exceptAll`` both ways — two shuffles over the
          two states). Correct for arbitrary history, priced accordingly.
        """
        ids = [s.snapshot_id for s in self.log.snapshots]
        if from_snapshot not in ids:
            raise KeyError(f"snapshot {from_snapshot} not found")
        hi = to_snapshot if to_snapshot is not None else ids[-1]
        tag = lambda df, t: df.withColumn("_change_type", F.lit(t))  # noqa: E731
        try:
            planned = self._plan_changes(from_snapshot, hi)
            if planned is not None:
                return planned
            inserted = self.read_incremental(from_snapshot, hi)
            # MoR deletes committed in the interval remove rows from the
            # BEFORE state too; read_incremental already applies delete
            # files to the interval's adds, but deletes against files
            # from BEFORE the interval must surface as 'delete' rows
            if any(
                s.added_deletes
                for s in self.log.snapshots
                if from_snapshot < s.snapshot_id <= hi
            ):
                raise ValueError("interval has merge-on-read deletes")
            return tag(inserted, "insert")
        except ValueError:
            before = self.read_snapshot(from_snapshot)
            after = (
                self.read_snapshot(hi)
                if to_snapshot is not None
                else self.scan()
            )
            cols = [c for c in after.columns if c in before.columns]
            return tag(after.select(cols).exceptAll(before.select(cols)), "insert").unionByName(
                tag(before.select(cols).exceptAll(after.select(cols)), "delete")
            )

    def _plan_changes(self, from_snapshot: int, hi: int) -> DataFrame | None:
        """Metadata-planned change feed over commit-time change-data files.

        Applies when at least one interval snapshot carries
        ``change-data-files`` and EVERY snapshot is one of: append/add_files
        (its added files are the insert rows), data-change=false
        reorganization (skipped — compaction is invisible to the feed), a
        rewrite carrying change-data files (its delta rows), or the create
        snapshot. The result is the NET of the per-commit deltas
        (``exceptAll`` cancellation over delta rows only — a row inserted
        then deleted inside the interval nets out, matching the diff
        fallback exactly) at a cost proportional to the CHANGED data.
        Returns None when the interval doesn't qualify (pure-append
        intervals keep the even cheaper insert-only path; anything else
        falls back to the full state diff) — also under schema evolution
        since the cursor, where persisted delta files may predate
        renames/drops."""
        snaps = [
            s
            for s in self.log.snapshots
            if from_snapshot < s.snapshot_id <= hi
        ]
        if not any(s.summary.get("change-data-files") for s in snaps):
            return None
        if any(s.added_deletes for s in snaps):
            return None
        if any(
            sid > from_snapshot
            for sid, _, _ in (*self._rename_events(), *self._column_events())
        ):
            return None
        ins_files: list[dict[str, Any]] = []
        cdf_paths: list[str] = []
        for s in snaps:
            if s.summary.get("data-change") is False or s.operation == "create":
                continue
            if s.operation in ("append", "add_files"):
                ins_files.extend(s.added_files)
            elif s.summary.get("change-data-files"):
                cdf_paths.extend(
                    f["path"] for f in s.summary["change-data-files"]
                )
            else:
                return None
        schema = self.schema()
        cols = schema.fieldNames()

        def conform(df: DataFrame) -> DataFrame:
            return df.select(
                *[F.col(c).cast(schema[c].dataType).alias(c) for c in cols]
            )

        delta = self.spark.read.parquet(*cdf_paths)
        ins = conform(delta.filter(F.col("_change_type") == "insert"))
        dels = conform(delta.filter(F.col("_change_type") == "delete"))
        if ins_files:
            ins = conform(self._read_files(ins_files)).unionByName(ins)
        tag = lambda df, t: df.withColumn("_change_type", F.lit(t))  # noqa: E731
        return tag(ins.exceptAll(dels), "insert").unionByName(
            tag(dels.exceptAll(ins), "delete")
        )

    def to_df(self) -> DataFrame:
        return self.scan()

    # --------------------------------------------------- metadata tables --

    def partitions(self) -> DataFrame:
        """Iceberg's ``table.partitions`` metadata table: per-partition
        file count, row count, and bytes — from the snapshot log alone.
        The first stop for diagnosing skew or small-file buildup without
        touching data."""
        agg: dict[tuple, dict[str, int]] = {}
        for f in self.log.live_files():
            key = tuple(sorted((f.get("partition") or {}).items()))
            a = agg.setdefault(key, {"files": 0, "rows": 0, "bytes": 0})
            a["files"] += 1
            a["rows"] += f.get("rows") or 0
            a["bytes"] += (
                os.path.getsize(f["path"]) if os.path.exists(f["path"]) else 0
            )
        rows = [
            (dict(k), a["files"], a["rows"], a["bytes"]) for k, a in sorted(agg.items())
        ]
        return local_rows_df(self.spark,
            rows,
            "partition map<string,string>, file_count int, "
            "record_count long, total_bytes long",
        )

    def files(self) -> DataFrame:
        """Iceberg's ``table.files`` metadata table: one row per live data
        file with partition values, row count, and size — queryable with
        the full DataFrame API, built purely from the snapshot log."""
        rows = [
            (
                f["path"],
                dict(f.get("partition") or {}),
                f.get("rows"),
                os.path.getsize(f["path"]) if os.path.exists(f["path"]) else None,
                f.get("added_in"),
            )
            for f in self.log.live_files()
        ]
        return local_rows_df(self.spark,
            rows,
            "path string, partition map<string,string>, record_count long, "
            "file_size_bytes long, added_snapshot_id int",
        )

    def snapshots(self) -> DataFrame:
        """Iceberg's ``table.snapshots`` metadata table."""
        rows = [
            (
                s.snapshot_id,
                s.parent_id,
                s.operation,
                s.timestamp_ms,
                len(s.added_files),
                len(s.removed_paths),
            )
            for s in self.log.snapshots
        ]
        return local_rows_df(self.spark,
            rows,
            "snapshot_id int, parent_id int, operation string, "
            "committed_at_ms long, added_files int, removed_files int",
        )

    def stats(self) -> dict[str, Any]:
        """Table health summary from metadata alone (zero data reads):
        rows, file count, bytes, partitions, snapshots, deletes in effect."""
        files = self.log.live_files()
        sizes = [
            os.path.getsize(f["path"]) for f in files if os.path.exists(f["path"])
        ]
        rows = [f.get("rows") for f in files]
        return {
            "files": len(files),
            "bytes": sum(sizes),
            "avg_file_bytes": (sum(sizes) // len(sizes)) if sizes else 0,
            "rows": sum(r for r in rows if r is not None)
            if all(r is not None for r in rows)
            else None,
            "partitions": len({tuple(sorted(f["partition"].items())) for f in files}),
            "snapshots": len(self.log.snapshots),
            "equality_deletes": len(self.log.live_deletes()),
        }

    def metadata_count(self, snapshot_id: int | None = None) -> int | None:
        """COUNT(*) from file metadata alone — zero data reads.

        Returns None when the count can't be answered from metadata:
        merge-on-read deletes are in effect, or some file (e.g. registered
        via add_files without footer probing) lacks a recorded row count.
        Callers fall back to ``scan().count()`` — the same contract as
        engines answering COUNT(*) from Iceberg manifest statistics.
        """
        if self.log.live_deletes(snapshot_id):
            return None
        counts = [f.get("rows") for f in self.log.live_files(snapshot_id)]
        if any(c is None for c in counts):
            return None
        return sum(counts)

    # ---------------------------------------------------------- internals --

    def _data_schema(self) -> T.StructType:
        """Schema of the data files: table schema minus IDENTITY partition
        columns. Transform sources stay in the data (the derived partition
        value is lossy), which is what makes hidden partitioning hidden."""
        identity = {pf.source for pf in self.partition_fields if pf.is_identity}
        return T.StructType([f for f in self.schema().fields if f.name not in identity])

    def _write_data(
        self, df: DataFrame, records_per_file: int | None = None
    ) -> list[dict[str, Any]]:
        """Write one commit's hive-partitioned zstd parquet; return file
        entries with partition values parsed from the paths."""
        import uuid

        schema = self.schema()
        # ONLY evolution-added columns are optional for writers (Iceberg
        # add-column semantics): an append missing a post-evolution column —
        # e.g. raw ingest into a table carrying ivf_cell/pq_codes index
        # columns — writes NULL there, so existing pipelines survive schema
        # evolution and index builds. A missing ORIGINAL column is a writer
        # bug (misspelled/dropped field) and raises, instead of silently
        # landing an all-NULL column.
        present = set(df.columns)
        evolved = {n for _, op, n in self._column_events() if op == "add"}
        missing_core = [
            f.name
            for f in schema.fields
            if f.name not in present and f.name not in evolved
        ]
        if missing_core:
            raise ValueError(
                f"incoming data lacks required column(s) {missing_core}; only "
                "columns added via schema evolution may be omitted (they "
                f"NULL-fill). Table schema: {schema.fieldNames()}"
            )
        df = df.select(
            *[
                F.col(f.name).cast(f.dataType)
                if f.name in present
                else F.lit(None).cast(f.dataType).alias(f.name)
                for f in schema.fields
            ]
        )
        # hidden partitioning: compute derived partition values as Catalyst
        # expressions; identity columns partition directly
        for pf in self.partition_fields:
            if not pf.is_identity:
                dtype = schema[pf.source].dataType.simpleString()
                df = df.withColumn(pf.name, derived_column_typed(pf, dtype))
        # write distribution (Iceberg's write.distribution-mode): without it,
        # EVERY task holding rows of a partition writes its own file there —
        # a 1000-task write into 100 partitions can shed 100k small files.
        # "hash" co-locates each partition's rows on one task (one shuffle);
        # "range" range-partitions on partition + sort columns, which also
        # pre-orders data for tight file bounds.
        dist_mode = self.log.properties.get("write.distribution-mode", "none")
        sort_cols_prop = [
            c.strip()
            for c in self.log.properties.get("write.sort-order", "").split(",")
            if c.strip()
        ]
        if dist_mode == "hash" and self.log.partition_by:
            df = df.repartition(*self.partition_names)
        elif dist_mode == "range":
            range_cols = [*self.partition_names, *sort_cols_prop]
            if range_cols:
                df = df.repartitionByRange(*range_cols)
        elif dist_mode == "zorder":
            # continuous Z-clustering: every append range-partitions + sorts
            # on the Morton key of write.zorder-columns, so multi-column
            # skipping works on fresh data without a separate rewrite pass.
            # Costs one extra bounds-agg over the batch (cheap vs the write).
            from pyiceberg_lakehouse_spark.lakehouse.maintenance import zorder_value

            zcols = [
                c.strip()
                for c in self.log.properties.get("write.zorder-columns", "").split(",")
                if c.strip()
            ]
            if zcols:
                df = (
                    df.withColumn("_zval", zorder_value(df, zcols))
                    .repartitionByRange("_zval")
                    .sortWithinPartitions("_zval")
                    .drop("_zval")
                )
        # table sort order (Iceberg's write.sort-order): cluster rows within
        # each task so every file's min/max bounds on the sort columns are
        # tight — stats skipping works on every write, not just after an
        # explicit zorder/compact. No extra shuffle: sort is per-partition.
        sort_order = self.log.properties.get("write.sort-order")
        if sort_order:
            sort_cols = [c.strip() for c in sort_order.split(",") if c.strip()]
            df = df.sortWithinPartitions(*sort_cols)
        commit_no = (self.log.current_snapshot_id() or 0) + 1
        # uuid suffix: two writers racing never collide on data paths — the
        # snapshot-log commit (optimistic check + atomic rename) is the only
        # serialization point, same as Iceberg's write-then-commit protocol
        out_dir = os.path.join(
            self.table_dir, "data", f"commit-{commit_no}-{uuid.uuid4().hex[:8]}"
        )
        writer = df.write.mode("error").option("compression", "zstd")
        # enforce the reference's write.target-file-size-bytes table property
        # (main-daft.py:106): Spark sizes output files by records, so the
        # property converts via an estimated row width. At 100 TB this is
        # what keeps files near 512 MB instead of one-per-task shards.
        records = records_per_file
        if records is None:
            records = self.log.properties.get("write.target-records-per-file")
        if records is None:
            target = int(
                self.log.properties.get("write.target-file-size-bytes", 512 * 1024 * 1024)
            )
            est_row_bytes = int(self.log.properties.get("write.estimated-row-bytes", 64))
            records = target // est_row_bytes
        writer = writer.option("maxRecordsPerFile", int(records))
        if self.log.partition_by:
            writer = writer.partitionBy(*self.partition_names)
        writer.parquet(out_dir)
        from pyiceberg_lakehouse_spark.lakehouse.stats import (
            collect_file_stats,
            file_row_count,
        )

        paths = sorted(
            _glob.glob(os.path.join(out_dir, "**", "*.parquet"), recursive=True)
        )

        def _entry(path: str) -> dict[str, Any]:
            rel = os.path.relpath(path, out_dir)
            return {
                "path": path,
                "partition": _parse_hive_partition(rel),
                # footer-exact row count: powers metadata-only COUNT(*)
                "rows": file_row_count(path),
                # per-file column bounds from the footer: O(files) driver
                # reads that buy file-level data skipping at scan time
                "stats": collect_file_stats(path),
            }

        # footer probes are tiny independent IO — a commit of hundreds of
        # files collects stats concurrently instead of one footer at a time
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=16) as pool:
            entries = list(pool.map(_entry, paths))
        # opt-in per-file bloom filters (point-lookup skipping where min/max
        # can't prune): one distributed pass over the new files
        bloom_cols = [
            c.strip()
            for c in self.log.properties.get("write.bloom-columns", "").split(",")
            if c.strip()
        ]
        if bloom_cols and entries:
            from pyiceberg_lakehouse_spark.lakehouse.bloom import build_file_blooms

            data_cols = {f.name for f in self._data_schema().fields}
            from pyiceberg_lakehouse_spark.lakehouse.bloom import (
                DEFAULT_K,
                DEFAULT_M,
            )

            blooms = build_file_blooms(
                self.spark,
                [e["path"] for e in entries],
                [c for c in bloom_cols if c in data_cols],
                # size to the expected per-file key cardinality:
                # write.bloom-bits ~ 10x the distinct keys per file keeps
                # FP ~1% at k=4; the 8 KiB default saturates past ~1k
                # distinct keys/file and stops pruning
                m=int(self.log.properties.get("write.bloom-bits", DEFAULT_M)),
                k=int(self.log.properties.get("write.bloom-hashes", DEFAULT_K)),
            )
            for e in entries:
                if e["path"] in blooms:
                    e["bloom"] = blooms[e["path"]]
        return entries

    def _write_change_data(self, changes: DataFrame) -> list[dict[str, Any]]:
        """Persist one mutation commit's row-level delta (data columns +
        ``_change_type`` 'insert'/'delete') as zstd parquet under
        ``_change_data/`` — Delta's CDF layout. Sized like data files;
        NOT registered as table data (the snapshot records them in its
        summary), so scans never see them and the change feed reads the
        delta without touching the table."""
        import uuid

        commit_no = (self.log.current_snapshot_id() or 0) + 1
        out_dir = os.path.join(
            self.table_dir,
            "_change_data",
            f"commit-{commit_no}-{uuid.uuid4().hex[:8]}",
        )
        # FULL table schema (unlike data files, identity partition columns
        # are kept inline — change files are not hive-partitioned)
        cols = [*self.schema().fieldNames(), "_change_type"]
        records = int(
            self.log.properties.get("write.target-file-size-bytes", 512 * 1024 * 1024)
        ) // int(self.log.properties.get("write.estimated-row-bytes", 64))
        (
            changes.select(*cols)
            .write.mode("error")
            .option("compression", "zstd")
            .option("maxRecordsPerFile", records)
            .parquet(out_dir)
        )
        from pyiceberg_lakehouse_spark.lakehouse.stats import file_row_count

        return [
            {"path": p, "rows": file_row_count(p)}
            for p in sorted(_glob.glob(os.path.join(out_dir, "*.parquet")))
        ]

    def _read_files(
        self, files: list[dict[str, Any]], with_pos: bool = False
    ) -> DataFrame:
        """File-list read. Hive-layout files go through one scan with
        basePath (Spark re-derives partition columns); metadata-only files
        (add_files/flat layout) get partition columns attached from the log.

        When renames have committed, files are additionally grouped by the
        snapshot they were added in, read under their HISTORICAL column
        names, and aliased forward — rename-without-rewrite. With no
        renames the grouping collapses and the original single-scan paths
        apply unchanged.

        ``with_pos`` appends ``__lh_fp``/``__lh_pos`` (Spark's native
        ``_metadata.file_path`` / ``_metadata.row_index``) to every leaf
        scan — the row identity POSITION deletes anti-join on. The columns
        ride from the scan itself, so they survive every epoch/partition
        grouping above."""
        schema = self.schema()
        if not files:
            empty = local_rows_df(self.spark, [], schema)
            if with_pos:
                empty = empty.withColumn(
                    "__lh_fp", F.lit(None).cast("string")
                ).withColumn("__lh_pos", F.lit(None).cast("bigint"))
            return empty
        has_renames = bool(self._rename_events())
        events = self._column_events()
        dropped = {n for _, op, n in events if op == "drop"}
        has_readds = any(op == "add" and n in dropped for _, op, n in events)
        # epoch grouping activates for renames AND for drop-then-re-add
        # (stale-byte resurrection guard); otherwise single-scan paths apply
        per_epoch = has_renames or has_readds

        def hist_for(added_in: int) -> dict[str, str]:
            return self._historical_names(added_in) if has_renames else {}

        def nulls_for(added_in: int) -> set:
            return self._readded_null_cols(added_in) if has_readds else set()

        def attach(df: DataFrame) -> DataFrame:
            if not with_pos:
                return df
            return df.withColumn(
                "__lh_fp", F.col("_metadata.file_path")
            ).withColumn("__lh_pos", F.col("_metadata.row_index"))

        def conform(
            df: DataFrame, hist: dict[str, str], nulls: set = frozenset()
        ) -> DataFrame:
            extra = (
                [F.col("__lh_fp"), F.col("__lh_pos")] if with_pos else []
            )
            return df.select(
                *[
                    F.lit(None).cast(f.dataType).alias(f.name)
                    if f.name in nulls
                    else F.col(hist.get(f.name, f.name)).cast(f.dataType).alias(f.name)
                    for f in schema.fields
                ],
                *extra,
            )

        parts = self.partition_names
        if not parts:
            # unpartitioned: every file (including externally registered
            # add_files paths) carries the full schema — one scan per rename
            # epoch (a single multi-file scan when no renames exist)
            by_epoch: dict[int, list[str]] = {}
            for f in files:
                epoch = f.get("added_in", 0) if per_epoch else 0
                by_epoch.setdefault(epoch, []).append(f["path"])
            dfs = []
            for epoch, paths in sorted(by_epoch.items()):
                hist = hist_for(epoch)
                read_schema = T.StructType(
                    [
                        T.StructField(hist.get(f.name, f.name), f.dataType, True)
                        for f in schema.fields
                    ]
                )
                dfs.append(
                    conform(
                        attach(
                            self.spark.read.schema(read_schema).parquet(
                                *paths
                            )
                        ),
                        hist,
                        nulls_for(epoch),
                    )
                )
            return reduce(DataFrame.unionByName, dfs)
        data_dir = os.path.join(self.table_dir, "data")
        hive = [f for f in files if _is_hive(f, parts, data_dir)]
        flat = [f for f in files if not _is_hive(f, parts, data_dir)]
        dfs: list[DataFrame] = []
        if hive:
            # one scan per commit dir (basePath anchors partition discovery
            # below the commit dir, so hive segments parse cleanly); a commit
            # dir is a single snapshot, so it is also a single rename epoch
            by_commit: dict[str, list[dict]] = {}
            for f in hive:
                rel = os.path.relpath(f["path"], os.path.join(self.table_dir, "data"))
                commit = rel.replace(os.sep, "/").split("/", 1)[0]
                by_commit.setdefault(commit, []).append(f)
            for commit in sorted(by_commit):
                group = by_commit[commit]
                epoch = group[0].get("added_in", 0)
                hist = hist_for(epoch)
                read_schema = T.StructType(
                    [
                        T.StructField(hist.get(f.name, f.name), f.dataType, True)
                        for f in self._data_schema().fields
                    ]
                )
                df = attach(
                    self.spark.read.schema(read_schema)
                    .option("basePath", os.path.join(self.table_dir, "data", commit))
                    .parquet(*[f["path"] for f in group])
                )
                dfs.append(conform(df, hist, nulls_for(epoch)))
        if flat:
            # group ONLY by the identity partition values that must be
            # re-attached as literal columns (plus rename epoch) — NOT by the
            # full partition tuple. Transform-partitioned files (e.g. a
            # month-spec generation after evolving to day) need no attached
            # columns at all, so they collapse into ONE multi-file scan
            # instead of one scan per historical partition value.
            identity_fields = {
                pf.name: pf for pf in self.partition_fields if pf.is_identity
            }
            by_group: dict[tuple, list[dict]] = {}
            for f in flat:
                epoch = f.get("added_in", 0) if per_epoch else 0
                ident = tuple(
                    sorted(
                        (k, v)
                        for k, v in f["partition"].items()
                        if k in identity_fields
                    )
                )
                by_group.setdefault((ident, epoch), []).append(f)
            for (ident, epoch), group in sorted(by_group.items()):
                pvals = dict(ident)
                hist = hist_for(epoch)
                # explicit schema (historical names): no per-group footer
                # inference job; files missing a column read it as NULL,
                # exactly like the hive path's schema projection
                read_schema = T.StructType(
                    [
                        T.StructField(hist.get(f.name, f.name), f.dataType, True)
                        for f in self._data_schema().fields
                    ]
                )
                df = attach(
                    self.spark.read.schema(read_schema).parquet(
                        *[f["path"] for f in group]
                    )
                )
                # only identity partition values materialize as columns;
                # transform sources already live in the data files
                for col, pf in identity_fields.items():
                    if col not in df.columns:
                        ftype = schema[pf.source].dataType
                        df = df.withColumn(col, F.lit(pvals.get(col)).cast(ftype))
                dfs.append(conform(df, hist, nulls_for(epoch)))
        return reduce(DataFrame.unionByName, dfs)

    def _commit(
        self,
        operation,
        files,
        removed_paths=None,
        summary=None,
        added_deletes=None,
        retry_conflicts=0,
        touched_partitions=None,
    ) -> Snapshot:
        return self.log.commit(
            operation,
            files,
            removed_paths,
            summary,
            added_deletes,
            retry_conflicts,
            touched_partitions=touched_partitions,
        )


def _partitions_of(files: list[dict[str, Any]]) -> list[dict[str, str]]:
    """Distinct partition-value dicts across file entries — the conflict
    scope of a copy-on-write rewrite. An unpartitioned file contributes
    the empty dict, which matches EVERY concurrent commit in
    ``_winners_touch`` (all() over no keys), so unpartitioned tables keep
    the strict always-conflict behavior."""
    return [
        dict(t)
        for t in {
            tuple(sorted((f.get("partition") or {}).items())) for f in files
        }
    ]


def _is_hive(f: dict[str, Any], parts: list[str], data_dir: str) -> bool:
    """Hive-readable = lives under this table's data dir AND encodes every
    partition column in its path; anything else is metadata-only."""
    path = f["path"].replace(os.sep, "/")
    if not path.startswith(data_dir.replace(os.sep, "/") + "/"):
        return False
    found = dict(_HIVE_SEG.findall(path))
    return all(p in found for p in parts)
