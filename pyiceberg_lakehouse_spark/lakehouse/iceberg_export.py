"""Export a native lakehouse table AS Apache Iceberg v2 metadata
(VERDICT r17 task #2 — the missing half of the interop story).

``iceberg_interop.read_iceberg_table`` already reads REAL Iceberg v2
metadata natively; this module goes the other direction: given a
table written by this engine's own snapshot log, emit spec-exact
Iceberg v2 metadata — vN.metadata.json, snap-*.avro manifest lists,
*-m0.avro manifests with per-column lower/upper bounds and
value/null counts, r102 partition structs through an identity spec,
and content=1/2 delete manifests for merge-on-read history — around
the table's EXISTING parquet data files (metadata-only: no data
file is rewritten or copied, exactly like Iceberg's own
``register_table`` / ``add_files`` flows).

Reference parity: the reference project queries its tables through
DuckDB's ``iceberg_scan`` over pyiceberg-written metadata
(query_iceberg_duckdb.py:24-27, main.py's pyiceberg catalog writes).
Here the lakehouse's OWN log is the source of truth and the Iceberg
tree is derived from it, so any engine that walks Iceberg v2 metadata
can read the table without this library in the loop. The DuckDB
iceberg extension cannot be installed in this sandbox (no network),
so spec compliance is pinned structurally (tests/test_iceberg_export)
and behaviorally by round-tripping through ``read_iceberg_table`` —
itself validated against spec vectors — and diffing vs
``table.scan()`` at every snapshot.

Scale posture: export is a metadata-scale lifecycle operation — one
parquet FOOTER read per data file (the same cost Iceberg's add_files
pays), no row data touched; manifests stream through the from-scratch
Avro encoder. A 100 TB table with 100k files exports in file-count
time, not data-size time. Export and commit share one footer read
path (``stats.footer_stats``), so a manifest's bounds and the log's
follow the same rule.
"""

from __future__ import annotations

import datetime
import os
from typing import Any

from pyspark.sql import types as T

from pyiceberg_lakehouse_spark.localdf import local_rows_df

from pyiceberg_lakehouse_spark.lakehouse import mor
from pyiceberg_lakehouse_spark.lakehouse.iceberg_interop import (
    write_iceberg_metadata,
)
from pyiceberg_lakehouse_spark.lakehouse.iceberg_transforms import (
    serialize_single_value,
)
from pyiceberg_lakehouse_spark.lakehouse.log import HIVE_NULL
from pyiceberg_lakehouse_spark.lakehouse.stats import (
    file_row_count,
    footer_stats,
)

_EPOCH_DATE = datetime.date(1970, 1, 1)
_EPOCH_TS = datetime.datetime(
    1970, 1, 1, tzinfo=datetime.timezone.utc
)

# Spark type -> (iceberg type string, avro partition-struct type).
_SPARK_TO_ICE: dict[type, tuple[str, Any]] = {
    T.BooleanType: ("boolean", "boolean"),
    T.IntegerType: ("int", "int"),
    T.ShortType: ("int", "int"),
    T.ByteType: ("int", "int"),
    T.LongType: ("long", "long"),
    T.FloatType: ("float", "float"),
    T.DoubleType: ("double", "double"),
    T.StringType: ("string", "string"),
    T.DateType: ("date", {"type": "int", "logicalType": "date"}),
    T.TimestampType: (
        "timestamptz",
        {"type": "long", "logicalType": "timestamp-micros"},
    ),
    T.TimestampNTZType: (
        "timestamp",
        {"type": "long", "logicalType": "local-timestamp-micros"},
    ),
    T.BinaryType: ("binary", "bytes"),
}


def _ice_type(dt: T.DataType) -> tuple[str, Any]:
    if isinstance(dt, T.DecimalType):
        # spec spells it with the space; avro side unused (decimals
        # are not supported as partition columns here)
        return (f"decimal({dt.precision}, {dt.scale})", None)
    try:
        return _SPARK_TO_ICE[type(dt)]
    except KeyError:
        raise NotImplementedError(
            f"iceberg export for Spark type {dt.simpleString()!r} "
            "(nested/interval types have no v2 primitive mapping)"
        ) from None


def _stat_value(v: Any, ice_type: str) -> Any:
    """Parquet-footer statistic -> the typed value
    serialize_single_value expects for ``ice_type``."""
    if ice_type == "date":
        if isinstance(v, datetime.date):
            return (v - _EPOCH_DATE).days
        return int(v)
    if ice_type in ("timestamp", "timestamptz"):
        if isinstance(v, datetime.datetime):
            if v.tzinfo is None:
                v = v.replace(tzinfo=datetime.timezone.utc)
            return round((v - _EPOCH_TS).total_seconds() * 1_000_000)
        return int(v)
    if ice_type == "string" and isinstance(v, bytes):
        return v.decode("utf-8")
    return v


def _file_stats(path: str, fields: list[dict]) -> dict[str, dict]:
    """``stats.footer_stats`` -> the manifest's four stats maps
    (field-id keyed): lower/upper bounds as Appendix-D bytes plus
    value/null counts. A column without bounds (none in the footer, or
    a type with no bounds serde here) exports no null count either —
    pruning stays conservative for it."""
    cols = footer_stats(path)[1]
    out: dict[str, dict] = {
        "lower_bounds": {}, "upper_bounds": {},
        "value_counts": {}, "null_value_counts": {},
    }
    for fld in fields:
        c = cols.get(fld["name"])
        if c is None:
            continue
        fid, ice_t = int(fld["id"]), fld["type"]
        out["value_counts"][fid] = c["values"]
        if (c["bounds"] is None or c["nulls"] is None
                or ice_t.startswith("decimal(") or ice_t == "binary"):
            continue
        try:
            lo, hi = (_stat_value(v, ice_t) for v in c["bounds"])
        except (UnicodeDecodeError, TypeError, ValueError):
            continue
        out["lower_bounds"][fid] = serialize_single_value(lo, ice_t)
        out["upper_bounds"][fid] = serialize_single_value(hi, ice_t)
        out["null_value_counts"][fid] = c["nulls"]
    return out


def _typed_partition(
    raw: dict[str, str] | None, part_cols: list[tuple[str, str]]
) -> dict[str, Any]:
    """Log partition values (path-segment strings) -> typed r102
    struct values per the identity transform's source type."""
    raw = raw or {}
    out: dict[str, Any] = {}
    for name, ice_t in part_cols:
        v = raw.get(name)
        if v is None or v == HIVE_NULL:
            out[name] = None
        elif ice_t in ("int", "long"):
            out[name] = int(v)
        elif ice_t == "date":
            out[name] = (
                datetime.date.fromisoformat(str(v)) - _EPOCH_DATE
            ).days
        elif ice_t in ("float", "double"):
            out[name] = float(v)
        elif ice_t == "boolean":
            out[name] = str(v).lower() == "true"
        else:
            out[name] = str(v)
    return out


def _collect_stats_distributed(
    spark, paths: list[str], fields: list[dict]
) -> dict[str, dict]:
    """One Spark job: executor-side ``_file_stats`` -> the per-file
    manifest stats maps. Result rows are metadata-scale (files x
    stat-bearing columns)."""
    keys = ("lower_bounds", "upper_bounds", "value_counts",
            "null_value_counts")
    schema = (
        "path string, fid int, lower_bounds binary, upper_bounds binary,"
        " value_counts long, null_value_counts long"
    )

    def _batches(it):
        import pandas as pd

        for pdf in it:
            rows = []
            for path in pdf["path"]:
                st = _file_stats(str(path), fields)
                for fid in sorted(st["value_counts"]):
                    rows.append((str(path), fid,
                                 *(st[k].get(fid) for k in keys)))
            yield pd.DataFrame(rows, columns=["path", "fid", *keys])

    src = local_rows_df(
        spark, [(p,) for p in paths], "path string"
    ).repartition(min(len(paths), 256))
    out: dict[str, dict] = {p: {k: {} for k in keys} for p in paths}
    for r in src.mapInPandas(_batches, schema).collect():
        for k in keys:
            if r[k] is not None:
                out[r["path"]][k][int(r["fid"])] = (
                    bytes(r[k]) if "bounds" in k else int(r[k])
                )
    return out


def _iceberg_operation(s) -> str:
    """The Iceberg snapshot operation of one log snapshot. The spec's
    ``replace`` promises unchanged data, so a rewrite keeps it only when
    it is data-change=false (compaction, z-order); a rewrite that changed
    rows (``merge_into_partitioned``, ``delete_where``, ``update_where``)
    and a ``delete`` that also adds data files (``upsert_partitioned``,
    ``apply_changes``) are
    ``overwrite``s. Metadata-only commits stay ``replace``."""
    if s.operation in ("create", "append", "add_files"):
        return "append"
    if s.operation == "delete":
        return "overwrite" if s.added_files else "delete"
    if (
        s.operation in ("replace", "overwrite")
        and s.summary.get("data-change") is not False
    ):
        return "overwrite"
    return "replace"


def export_iceberg_table(
    table, dest_dir: str | None = None, with_stats: bool = True
) -> str:
    """Lakehouse table -> Iceberg v2 metadata tree; returns the
    metadata.json path (feed it to ``read_iceberg_table`` or any
    engine's ``iceberg_scan``).

    The FULL snapshot history exports 1:1 — snapshot ids, parents,
    timestamps and operations are the lakehouse log's own, so Iceberg
    time travel to any exported snapshot matches
    ``table.scan(snapshot_id=...)``. Each snapshot's sequence number is
    its id, and a file or delete keeps the id of the snapshot that wrote
    it (``added_in`` / ``snapshot_id``), so the files and deletes a
    rollback re-lists, or an expiry carries into its base, keep their
    merge-on-read ordering. Merge-on-read history maps to the
    spec's delete files: position-delete files (already (file_path,
    pos) parquet, the spec's own column names) become content=1
    entries — one written before delete files stored log paths holds
    ``file:`` URIs and exports as a plain-path copy under
    ``<dest>/metadata/position-deletes/``; key deletes become content=2
    equality deletes with ``equality_ids`` resolved from the key
    columns. Every delete file lists under an unpartitioned spec, which
    Iceberg applies to every partition: a key delete hides a key's
    older row wherever it lives (an upsert may move a key), and one
    position-delete file names files of many partitions. Schema-evolution history (renames / type changes) is
    gated: Iceberg tracks columns by field-id across evolution and this
    log's history predates the mapping, so exporting it would silently
    mis-bind old manifests —
    ``compact()`` + ``expire_snapshots`` past the evolution point
    first."""
    log = table.log
    if log.schema_events():
        raise NotImplementedError(
            "iceberg export across schema-evolution history: field-id"
            " continuity cannot be reconstructed — expire_snapshots"
            " past the evolution point first"
        )
    # FULL table schema: identity-partition columns are not in the
    # data files (hive layout), so the exported schema declares them
    # and read-side resolves them per the spec's Column Projection
    # rule from the r102 partition metadata.
    schema = table.schema()
    fields: list[dict] = []
    for i, f in enumerate(schema.fields, start=1):
        ice_t, _avro_t = _ice_type(f.dataType)
        fields.append({
            "id": i, "name": f.name,
            "required": not f.nullable, "type": ice_t,
        })
    by_name = {f["name"]: f for f in fields}

    # Identity partition fields export as the Iceberg spec; TRANSFORM
    # fields (bucket/truncate/temporal) are deliberately NOT exported
    # as transforms — this engine's transform functions are not
    # bit-identical to Iceberg's (murmur3 bucket, epoch-month ints),
    # and a mismatched transform would make a foreign engine's
    # metadata pruning silently WRONG. Their source columns live in
    # the data files, so dropping them from the exported spec loses
    # only partition-level pruning (bounds stats still prune), never
    # correctness.
    part_cols: list[tuple[str, str]] = []
    partition_fields: list[tuple[str, Any]] = []
    for pf in table.partition_fields:
        if not pf.is_identity:
            continue
        name = pf.source
        fld = by_name.get(name)
        if fld is None:
            raise ValueError(
                f"partition column {name!r} not in the table schema"
            )
        ice_t = fld["type"]
        _ice, avro_t = _ice_type(schema[name].dataType)
        if avro_t is None:
            raise NotImplementedError(
                f"iceberg export of a {ice_t} partition column"
            )
        part_cols.append((name, ice_t))
        partition_fields.append((name, avro_t))
    partition_specs = None
    if part_cols:
        partition_specs = [{
            "spec-id": 0,
            "fields": [
                {"name": n, "transform": "identity",
                 "source-id": by_name[n]["id"],
                 "field-id": 1000 + i}
                for i, (n, _t) in enumerate(part_cols)
            ],
        }]

    stats_cache: dict[str, dict] = {}
    if with_stats:
        all_paths = sorted({
            f["path"] for snap_ in log.snapshots
            for f in snap_.added_files
        })
        if len(all_paths) > 64:
            # 100 TB posture: footer stats for a big file census
            # collect DISTRIBUTED (one executor-side footer read per
            # file, metadata-scale result rows) instead of a driver
            # loop over 100k files
            stats_cache = _collect_stats_distributed(
                table.spark, all_paths, fields
            )

    def _entry(f: dict) -> dict:
        path = f["path"]
        rows = f.get("rows")
        if rows is None:
            rows = file_row_count(path)
        out = {"path": path, "records": int(rows)}
        if part_cols:
            out["partition"] = _typed_partition(
                f.get("partition"), part_cols
            )
        if with_stats:
            if path not in stats_cache:
                stats_cache[path] = _file_stats(path, fields)
            out.update(stats_cache[path])
        return out

    missing = [
        f["path"]
        for s in log.snapshots
        for f in s.added_files
        if not os.path.exists(f["path"])
    ] + [
        d["path"]
        for s in log.snapshots
        for d in s.added_deletes
        if not os.path.exists(d["path"])
    ]
    if missing:
        raise ValueError(
            "iceberg export needs every historical file on disk (the"
            " manifests reference them); vacuumed/expired files are"
            f" gone: {missing[:3]}... — expire_snapshots to drop the"
            " unreachable history first"
        )

    # sequence numbers are the log's snapshot ids, so a file or delete
    # re-listed by a rollback, or carried into an expiry's base, keeps the
    # number of the snapshot that wrote it
    def _sequenced(out: dict, written_in: int, snapshot_id: int) -> dict:
        if written_in != snapshot_id:
            out.update(sequence_number=written_in, snapshot_id=written_in)
        return out

    # position-delete files written before they stored log paths hold
    # Spark's file: URIs, which an Iceberg reader takes as raw strings:
    # such a file exports as a plain-path copy under the destination
    dest = dest_dir or table.table_dir
    exported_as: dict[str, str] = {}

    def _position_delete_path(path: str) -> str:
        if path not in exported_as:
            copy = os.path.join(dest, "metadata", "position-deletes", os.path.basename(path))
            plain = mor.rewrite_position_paths(path, copy, mor.plain_path)
            exported_as[path] = copy if plain else path
        return exported_as[path]

    snapshots: list[dict] = []
    exported_paths: set[str] = set()
    exported_deletes: set[str] = set()
    for s in log.snapshots:
        files = [
            _sequenced(_entry(f), f.get("added_in", s.snapshot_id), s.snapshot_id)
            for f in s.added_files
        ]
        pos, eq = [], []
        for d in s.added_deletes:
            out = {"path": d["path"], "records": file_row_count(d["path"])}
            if d.get("kind") == "position":
                out["path"] = _position_delete_path(d["path"])
                pos.append(_sequenced(out, d["snapshot_id"], s.snapshot_id))
                continue
            try:
                out["equality_ids"] = [by_name[c]["id"] for c in d["key_cols"]]
            except KeyError as exc:
                raise ValueError(
                    f"delete key column {exc} not in the data schema"
                ) from exc
            eq.append(_sequenced(out, d["snapshot_id"], s.snapshot_id))
        if s.operation == "overwrite":
            # a log overwrite replaces the whole file set, deletes
            # included, without listing what it removes; what a rollback
            # re-lists stays
            relisted = {f["path"] for f in files + pos + eq if "sequence_number" in f}
            deleted = sorted((exported_paths | exported_deletes) - relisted)
        else:
            deleted = [p for p in s.removed_paths if p in exported_paths]
        exported_paths = (exported_paths - set(deleted)) | {f["path"] for f in files}
        exported_deletes = (exported_deletes - set(deleted)) | {
            d["path"] for d in pos + eq
        }
        snap: dict[str, Any] = {
            "snapshot_id": int(s.snapshot_id),
            "sequence_number": int(s.snapshot_id),
            "timestamp_ms": int(s.timestamp_ms),
            "operation": _iceberg_operation(s),
            "files": files,
            "deleted": deleted,
        }
        if pos:
            snap["pos_deletes"] = pos
        if eq:
            snap["eq_deletes"] = eq
        snapshots.append(snap)

    return write_iceberg_metadata(
        dest,
        snapshots=snapshots,
        schema_fields=fields,
        partition_specs=partition_specs,
        partition_fields=partition_fields or None,
        global_deletes=True,
    )
