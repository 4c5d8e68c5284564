"""Apache Iceberg v2 TABLE-FORMAT interop: read a real Iceberg table
from its metadata alone, with no Iceberg library in the loop.

This is the reference project's namesake capability
(query_iceberg_duckdb.py:24-27 — ``iceberg_scan('<metadata.json>')``)
implemented natively: walk vN.metadata.json -> the snapshot's
manifest-list (an AVRO file, read by operators/avro.py's from-scratch
container decoder) -> each manifest (Avro again) -> the live data-file
list -> one Spark parquet scan. Time travel is picking a different
snapshot id from the same metadata; the current snapshot resolves via
the ``main`` ref / current-snapshot-id per the spec.

Reader tolerance follows the spec's reader contract: fields are
resolved BY NAME from the manifest records, unknown fields are ignored
(Avro handles that structurally), ``status=2`` (DELETED) entries drop
out of the live set while ``EXISTING``/``ADDED`` stay, sequence
numbers inherit from the manifest-list entry when null. v2
merge-on-read DELETE FILES are applied at read time: position deletes
(content=1, and v3 deletion vectors) and equality deletes (content=2)
go through ``mor.apply_deletes``, the one anti-join per delete kind that
the engine's own lakehouse scan uses too, with the spec's
sequence-number applicability rules (position: delete seq >= data seq;
equality: strictly >). Rows are addressed by Spark's
``_metadata.file_path``/``row_index`` hidden columns, and each data and
delete row gets its file's sequence number from the manifests by
``mor.with_sequence``.

``write_iceberg_metadata`` is the fixture-grade writer: it emits
spec-shaped metadata.json + manifest-list + manifest files around
existing parquet so the reader is exercised end to end (multiple
snapshots, appended + deleted manifest entries, split manifests). With
no Iceberg library in this environment it is also the only way to
build test tables; the layout mirrors what Spark-Iceberg writes
(metadata/ directory, snap-*.avro manifest lists, *-m0.avro
manifests).
"""

from __future__ import annotations

import json
import os
import uuid
from functools import reduce
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from pyiceberg_lakehouse_spark.lakehouse import mor
from pyiceberg_lakehouse_spark.localdf import local_rows_df

from pyiceberg_lakehouse_spark.operators.avro import decode_avro, encode_avro

# Avro schemas for the subset of manifest fields the reader needs —
# field names are the spec's; readers resolve by name so extra fields
# written by real Iceberg are simply ignored by our decoder's caller.
_MANIFEST_LIST_SCHEMA = {
    # field-id props are the spec's manifest-list ids (Manifest Lists
    # table) — real engines resolve manifest fields BY ID, so an
    # export-grade list must carry them; our own reader resolves by
    # name and ignores them
    "type": "record", "name": "manifest_file", "fields": [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
        {"name": "content", "type": "int", "field-id": 517},
        {"name": "sequence_number", "type": "long", "field-id": 515},
        {"name": "min_sequence_number", "type": "long", "field-id": 516},
        {"name": "added_snapshot_id", "type": "long", "field-id": 503},
        {"name": "added_files_count", "type": "int", "field-id": 504},
        {"name": "existing_files_count", "type": "int", "field-id": 505},
        {"name": "deleted_files_count", "type": "int", "field-id": 506},
        {"name": "added_rows_count", "type": "long", "field-id": 512},
        {"name": "existing_rows_count", "type": "long", "field-id": 513},
        {"name": "deleted_rows_count", "type": "long", "field-id": 514},
    ],
}

# the data_file's field-id keyed stats maps: name -> (field id, key
# field id, value type); the value's field id is the key's plus one
_STATS_MAPS = {
    "lower_bounds": (125, 126, "bytes"),
    "upper_bounds": (128, 129, "bytes"),
    "value_counts": (109, 119, "long"),
    "null_value_counts": (110, 121, "long"),
}
_AVRO_PY = {"bytes": bytes, "long": int}


def _id_map(name: str, fid: int, key_id: int, value_type: str) -> dict:
    """A spec map field in its array<record{key,value}> encoding, with
    the documented kNNN_vNNN record name and per-key/value field-ids."""
    return {"name": name, "field-id": fid, "type": ["null", {
        "type": "array", "items": {
            "type": "record", "name": f"k{key_id}_v{key_id + 1}",
            "fields": [{"name": "key", "type": "int",
                        "field-id": key_id},
                       {"name": "value", "type": value_type,
                        "field-id": key_id + 1}],
        }}]}


def _encode_stats(f: dict) -> dict:
    """File ``f``'s {field id: value} stats maps -> the spec's sorted
    [{key, value}] arrays (None when absent)."""
    return {
        name: [{"key": int(k), "value": _AVRO_PY[t](v)}
               for k, v in sorted(f[name].items())] if f.get(name) else None
        for name, (_fid, _kid, t) in _STATS_MAPS.items()
    }


def _decode_stats(df: dict) -> dict:
    """A manifest ``data_file``'s [{key, value}] stats arrays -> plain
    {field id: value} dicts (None when the writer recorded none)."""
    return {
        name: {int(e["key"]): _AVRO_PY[t](e["value"]) for e in df[name]}
        if df.get(name) else None
        for name, (_fid, _kid, t) in _STATS_MAPS.items()
    }


_MANIFEST_SCHEMA = {
    # field-id props per the spec's manifest-entry / data_file tables;
    # map-shaped fields use the spec's array<record{key,value}>
    # encoding with the documented kNNN_vNNN record names and per-key/
    # value field-ids
    "type": "record", "name": "manifest_entry", "fields": [
        {"name": "status", "type": "int", "field-id": 0},
        {"name": "snapshot_id", "type": ["null", "long"], "field-id": 1},
        {"name": "sequence_number", "type": ["null", "long"],
         "field-id": 3},
        {"name": "file_sequence_number", "type": ["null", "long"],
         "field-id": 4},
        {"name": "data_file", "field-id": 2, "type": {
            "type": "record", "name": "r2", "fields": [
                {"name": "content", "type": "int", "field-id": 134},
                {"name": "file_path", "type": "string", "field-id": 100},
                {"name": "file_format", "type": "string",
                 "field-id": 101},
                {"name": "record_count", "type": "long",
                 "field-id": 103},
                {"name": "file_size_in_bytes", "type": "long",
                 "field-id": 104},
                # spec field 135: source field ids an equality-delete
                # file (content=2) matches on; null for data/position
                {"name": "equality_ids", "field-id": 135,
                 "type": ["null", {"type": "array", "items": "int",
                                   "element-id": 136}]},
                # spec fields 125/128: per-column value bounds as
                # field-id -> single-value-serialized bytes; 109/110:
                # per-column row / null-row counts (field-id -> long) —
                # IS NULL / IS NOT NULL pruning
                *(_id_map(name, *ids) for name, ids in _STATS_MAPS.items()),
            ],
        }},
    ],
}

_STATUS_EXISTING, _STATUS_ADDED, _STATUS_DELETED = 0, 1, 2


def _manifest_entry(
    status: int, snapshot_id: int, seq: int | None, data_file: dict
) -> dict:
    return {"status": status, "snapshot_id": snapshot_id,
            "sequence_number": seq, "file_sequence_number": seq,
            "data_file": data_file}


def _manifest_schema(
    partition_fields: list[tuple[str, str]],
    part_field_ids: list[int] | None = None,
    with_dv_fields: bool = False,
    empty_partition: bool = False,
) -> dict:
    """The manifest-entry schema with the spec's r102 partition struct
    typed per the table's partition spec (identity transforms); the
    container embeds this writer schema, so readers stay
    self-describing. ``part_field_ids`` carries the partition spec's
    field-ids into the r102 struct (default 1000+i, matching the
    default identity spec this module derives). ``empty_partition``
    writes the struct with no fields, an unpartitioned spec's."""
    import copy

    schema = copy.deepcopy(_MANIFEST_SCHEMA)
    if partition_fields or empty_partition:
        ids = part_field_ids or [
            1000 + i for i in range(len(partition_fields))
        ]
        part_rec = {
            "type": "record", "name": "r102", "fields": [
                {"name": n, "type": ["null", t], "field-id": fid}
                for (n, t), fid in zip(partition_fields, ids)
            ],
        }
        df_fields = schema["fields"][4]["type"]["fields"]
        df_fields.insert(
            3, {"name": "partition", "type": part_rec, "field-id": 102}
        )
    if with_dv_fields:
        schema["fields"][4]["type"]["fields"] += [
            # v3 deletion-vector fields (spec ids 143-145): the
            # referenced data file and the Puffin blob range
            {"name": "referenced_data_file",
             "type": ["null", "string"], "field-id": 143},
            {"name": "content_offset",
             "type": ["null", "long"], "field-id": 144},
            {"name": "content_size_in_bytes",
             "type": ["null", "long"], "field-id": 145},
        ]
    return schema


def write_iceberg_metadata(
    table_dir: str,
    snapshots: list[dict],
    schema_fields: list[dict],
    partition_specs: list[dict] | None = None,
    partition_fields: list[tuple[str, str]] | None = None,
    extra_refs: dict[str, dict] | None = None,
    format_version: int = 2,
    global_deletes: bool = False,
) -> str:
    """Fixture-grade Iceberg v2 metadata around existing parquet files.

    ``snapshots``: [{"files": [{"path", "records", "size"?,
    "partition"?: {field: value}}],
    "deleted"?: [data or delete files removed in this snapshot],
    "pos_deletes"?: [{"path", "records"}]  (content=1 parquet files of
    (file_path, pos) rows), "eq_deletes"?: [{"path", "records",
    "equality_ids": [field ids]}] (content=2)}] — cumulative state is
    derived here the way Iceberg's manifests express it (ADDED entries
    in the new manifest, EXISTING carried forward, DELETED tombstones;
    delete files live in their own content=1 manifest per the spec).
    A data or delete file that also carries ``sequence_number`` and
    ``snapshot_id`` is re-listed: an EXISTING entry keeping the
    sequence number it was first written with.

    ``partition_fields``: [(name, "long"|"string")] types the spec's
    r102 partition struct in every manifest entry and derives an
    identity partition spec from the table schema (source-id by name,
    field-ids from 1000). For NON-identity specs pass
    ``partition_specs`` explicitly (transforms like ``bucket[4]`` /
    ``truncate[2]``) with ``partition_fields`` naming the SPEC field
    names — per-file values arrive pre-transformed in
    f["partition"], the way a real writer stores them.

    Delete files take the table spec and their own ``partition``, so the
    spec applies each only to data files of that partition. With
    ``global_deletes`` every delete file lists instead under an added
    unpartitioned spec (no fields, an empty partition struct), which the
    spec applies to every partition: the form a delete that may match
    rows anywhere needs.

    Data files may carry ``lower_bounds``/``upper_bounds``:
    {field_id: single-value-serialized bytes}
    (iceberg_transforms.serialize_single_value) — the manifest stats
    the reader's metadata-time pruning consumes.

    Export-grade extensions (r18, VERDICT r17 task #2): each snapshot
    dict may carry ``snapshot_id`` / ``timestamp_ms`` / ``operation``
    (preserved verbatim — how ``export_iceberg_table`` keeps a native
    lakehouse table's history ids) and an increasing
    ``sequence_number`` (default: the previous one plus 1); data files
    may carry ``value_counts`` / ``null_value_counts``; manifests and the
    manifest list embed the spec's Avro container metadata keys
    (``schema`` / ``partition-spec`` / ``partition-spec-id`` /
    ``format-version`` / ``content``) and every Avro field carries its
    spec field-id, so a foreign engine resolving by id can walk the
    tree. Returns the metadata.json path."""
    partition_fields = partition_fields or []
    part_field_ids = None
    if partition_specs and partition_fields:
        by_name = {
            f["name"]: int(f["field-id"])
            for f in partition_specs[0].get("fields", [])
            if "field-id" in f
        }
        if all(n in by_name for n, _t in partition_fields):
            part_field_ids = [by_name[n] for n, _t in partition_fields]
    has_dv = any(snap.get("dv_deletes") for snap in snapshots)
    if has_dv and format_version < 3:
        raise ValueError(
            "deletion vectors need format_version=3"
        )
    manifest_schema = _manifest_schema(
        partition_fields, part_field_ids, with_dv_fields=has_dv
    )
    if partition_fields and partition_specs is None:
        by_name = {f["name"]: f["id"] for f in schema_fields}
        missing = [n for n, _t in partition_fields if n not in by_name]
        if missing:
            raise ValueError(
                f"identity partition fields {missing} are not table"
                " schema columns"
            )
        partition_specs = [{
            "spec-id": 0,
            "fields": [
                {"name": n, "transform": "identity",
                 "source-id": by_name[n], "field-id": 1000 + i}
                for i, (n, _t) in enumerate(partition_fields)
            ],
        }]
    partition_specs = partition_specs or [{"spec-id": 0, "fields": []}]
    delete_spec = partition_specs[0]
    delete_schema = manifest_schema
    if global_deletes and partition_fields:
        delete_spec = {
            "spec-id": 1 + max(int(sp["spec-id"]) for sp in partition_specs),
            "fields": [],
        }
        partition_specs = [*partition_specs, delete_spec]
        delete_schema = _manifest_schema(
            [], with_dv_fields=has_dv, empty_partition=True
        )
    meta_dir = os.path.join(table_dir, "metadata")
    os.makedirs(meta_dir, exist_ok=True)
    snap_objs = []
    live: dict[str, dict] = {}
    live_del: dict[str, dict] = {}
    seq = 0
    prev_snap_id: int | None = None

    def _data_file(f: dict, content: int, **fields) -> dict:
        """The manifest ``data_file`` record of data or delete file
        ``f``; ``fields`` set the content-specific ones."""
        df = {
            "content": content,
            "file_path": os.path.abspath(f["path"]),
            "file_format": "PARQUET",
            "record_count": int(f["records"]),
            "file_size_in_bytes": int(
                f["size"] if "size" in f else os.path.getsize(f["path"])
            ),
            "equality_ids": None,
            **_encode_stats(f),
        }
        if has_dv:
            df.update(referenced_data_file=None, content_offset=None,
                      content_size_in_bytes=None)
        df.update(fields)
        if content and delete_spec is not partition_specs[0]:
            df["partition"] = {}
        elif partition_fields:
            part = f.get("partition", {})
            df["partition"] = {n: part.get(n) for n, _t in partition_fields}
        return df

    def _list(f: dict, df: dict, live_map: dict, key: str, out: list) -> None:
        """Make ``df`` live under ``key`` and list it in this
        snapshot: ADDED, inheriting the manifest's sequence number,
        or — a file re-listed with its original ``sequence_number``
        and ``snapshot_id`` — EXISTING with those."""
        relisted = "sequence_number" in f
        fseq = int(f["sequence_number"]) if relisted else seq
        fsnap = int(f["snapshot_id"]) if relisted else snap_id
        live_map[key] = {"df": df, "seq": fseq, "snap_id": fsnap,
                         "listed": seq}
        out.append(_manifest_entry(
            _STATUS_EXISTING if relisted else _STATUS_ADDED, fsnap,
            # null: inherited from the manifest
            fseq if relisted else None, df,
        ))

    def _carry(live_map: dict, out: list) -> None:
        """EXISTING entries for the live files this snapshot did not
        list; ``snapshot_id`` stays the one that ADDED the file (spec)."""
        out += [
            _manifest_entry(_STATUS_EXISTING, prev["snap_id"], prev["seq"],
                            prev["df"])
            for prev in live_map.values() if prev["listed"] != seq
        ]

    for si, snap in enumerate(snapshots):
        seq = int(snap.get("sequence_number", seq + 1))
        snap_id = int(snap.get("snapshot_id", 1000 + si))
        entries = []
        del_entries = []
        for path in snap.get("deleted", []):
            if path in live:
                prev, out = live.pop(path), entries
            elif path in live_del:
                prev, out = live_del.pop(path), del_entries
            else:
                raise ValueError(f"snapshot {si} deletes unknown {path}")
            out.append(_manifest_entry(
                _STATUS_DELETED, snap_id, prev["seq"], prev["df"]
            ))
        for f in snap.get("files", []):
            df = _data_file(
                f, 0, file_format=f.get("file_format", "PARQUET")
            )
            _list(f, df, live, f["path"], entries)
        _carry(live, entries)
        # ---- content=1 delete manifest (position + equality files) ----
        for f in snap.get("pos_deletes", []):
            _list(f, _data_file(f, 1), live_del, f["path"], del_entries)
        for f in snap.get("dv_deletes", []):
            # v3 deletion vector: content=1, PUFFIN, blob range +
            # referenced data file; record_count = DV cardinality
            df = _data_file(
                f, 1, file_format="PUFFIN",
                referenced_data_file=os.path.abspath(
                    f["referenced_data_file"]
                ),
                content_offset=int(f["content_offset"]),
                content_size_in_bytes=int(f["content_size_in_bytes"]),
            )
            _list(f, df, live_del,
                  f["path"] + "#" + df["referenced_data_file"], del_entries)
        for f in snap.get("eq_deletes", []):
            df = _data_file(
                f, 2, equality_ids=[int(i) for i in f["equality_ids"]]
            )
            _list(f, df, live_del, f["path"], del_entries)
        _carry(live_del, del_entries)

        def _mlist_entry(
            ents: list[dict], content: int, spec: dict, schema: dict
        ) -> dict:
            mpath = os.path.join(meta_dir, f"{uuid.uuid4().hex}-m0.avro")
            # the spec's required Avro container metadata: a foreign
            # engine reads the manifest's own copy of the table schema
            # and partition spec rather than re-parsing metadata.json
            blob = encode_avro(ents, schema, extra_meta={
                "schema": json.dumps({
                    "type": "struct", "schema-id": 0,
                    "fields": schema_fields,
                }).encode(),
                "schema-id": b"0",
                "partition-spec": json.dumps(spec["fields"]).encode(),
                "partition-spec-id": str(spec["spec-id"]).encode(),
                "format-version": str(format_version).encode(),
                "content": b"data" if content == 0 else b"deletes",
            })
            with open(mpath, "wb") as fh:
                fh.write(blob)
            added = [e for e in ents if e["status"] == _STATUS_ADDED]
            existing = [e for e in ents if e["status"] == _STATUS_EXISTING]
            deleted = [e for e in ents if e["status"] == _STATUS_DELETED]
            return {
                "manifest_path": os.path.abspath(mpath),
                "manifest_length": len(blob),
                "partition_spec_id": int(spec["spec-id"]),
                "content": content,
                "sequence_number": seq,
                "min_sequence_number": min(
                    (e["sequence_number"] or seq for e in ents),
                    default=seq,
                ),
                "added_snapshot_id": snap_id,
                "added_files_count": len(added),
                "existing_files_count": len(existing),
                "deleted_files_count": len(deleted),
                "added_rows_count": sum(
                    e["data_file"]["record_count"] for e in added
                ),
                "existing_rows_count": sum(
                    e["data_file"]["record_count"] for e in existing
                ),
                "deleted_rows_count": sum(
                    e["data_file"]["record_count"] for e in deleted
                ),
            }

        mlist = [_mlist_entry(entries, 0, partition_specs[0], manifest_schema)]
        if del_entries:
            mlist.append(_mlist_entry(del_entries, 1, delete_spec, delete_schema))
        lpath = os.path.join(
            meta_dir, f"snap-{snap_id}-1-{uuid.uuid4().hex}.avro"
        )
        with open(lpath, "wb") as fh:
            fh.write(encode_avro(
                mlist, _MANIFEST_LIST_SCHEMA, extra_meta={
                    "format-version": str(format_version).encode(),
                    "snapshot-id": str(snap_id).encode(),
                    "sequence-number": str(seq).encode(),
                    "parent-snapshot-id": (
                        str(prev_snap_id).encode()
                        if prev_snap_id is not None else b"null"
                    ),
                },
            ))
        snap_objs.append(
            {
                "snapshot-id": snap_id,
                "sequence-number": seq,
                "timestamp-ms": int(
                    snap.get("timestamp_ms", 1700000000000 + si)
                ),
                "manifest-list": os.path.abspath(lpath),
                "summary": {"operation": snap.get(
                    "operation",
                    "append" if not snap.get("deleted") else "overwrite",
                )},
                **({"parent-snapshot-id": prev_snap_id}
                   if prev_snap_id is not None else {}),
            }
        )
        prev_snap_id = snap_id
    last_part_id = max(
        (int(f["field-id"])
         for sp in (partition_specs or [])
         for f in sp.get("fields", []) if "field-id" in f),
        default=999,
    )
    metadata = {
        "format-version": int(format_version),
        "table-uuid": str(uuid.uuid4()),
        "location": os.path.abspath(table_dir),
        "last-sequence-number": seq,
        "last-updated-ms": snap_objs[-1]["timestamp-ms"],
        "last-column-id": len(schema_fields),
        "current-schema-id": 0,
        "schemas": [
            {"type": "struct", "schema-id": 0, "fields": schema_fields}
        ],
        "default-spec-id": 0,
        "partition-specs": partition_specs,
        "last-partition-id": last_part_id,
        "default-sort-order-id": 0,
        "sort-orders": [{"order-id": 0, "fields": []}],
        "current-snapshot-id": snap_objs[-1]["snapshot-id"],
        "refs": {
            "main": {
                "snapshot-id": snap_objs[-1]["snapshot-id"],
                "type": "branch",
            },
            # named tags/branches: {name: {"snapshot-id": id,
            # "type": "tag"|"branch"}} — ref-based time travel
            **(extra_refs or {}),
        },
        "snapshots": snap_objs,
        "snapshot-log": [
            {"snapshot-id": s["snapshot-id"],
             "timestamp-ms": s["timestamp-ms"]}
            for s in snap_objs
        ],
    }
    mpath = os.path.join(meta_dir, f"v{len(snapshots)}.metadata.json")
    with open(mpath, "w", encoding="utf-8") as fh:
        json.dump(metadata, fh)
    return mpath


def iceberg_live_files(
    metadata_path: str, snapshot_id: int | None = None,
    ref: str | None = None,
) -> dict[str, Any]:
    """metadata.json -> {snapshot_id, files: [{path, records, seq}],
    delete_files: [{path, records, seq, content, equality_ids}],
    n_manifests, schema_fields} for the chosen (default: current)
    snapshot. ``seq`` is the data sequence number (inherited from the
    manifest-list entry when the manifest entry carries null, per the
    spec's inheritance rule) — the delete-applicability key."""
    with open(metadata_path, encoding="utf-8") as fh:
        meta = json.load(fh)
    if int(meta.get("format-version", 1)) not in (1, 2, 3):
        raise NotImplementedError(
            f"iceberg format-version {meta.get('format-version')}"
        )
    snaps = {s["snapshot-id"]: s for s in meta.get("snapshots", [])}
    if snapshot_id is None and ref is not None:
        # named BRANCH/TAG time travel (the spec's refs map — 'main'
        # is just the default branch)
        refs = meta.get("refs", {})
        if ref not in refs:
            raise KeyError(
                f"iceberg ref {ref!r} not in the metadata"
                f" (has {sorted(refs)})"
            )
        snapshot_id = refs[ref]["snapshot-id"]
    if snapshot_id is None:
        snapshot_id = (
            meta.get("refs", {}).get("main", {}).get("snapshot-id")
            or meta.get("current-snapshot-id")
        )
    if snapshot_id not in snaps:
        raise KeyError(f"snapshot {snapshot_id} not in the metadata")
    snap = snaps[snapshot_id]
    if "manifest-list" in snap:
        with open(snap["manifest-list"], "rb") as fh:
            mlist = decode_avro(fh.read())["records"]
    elif "manifests" in snap:
        # format-version 1 snapshots may carry an inline manifest-path
        # list instead of a manifest-list file; v1 manifests are all
        # data manifests (no delete files exist in v1)
        mlist = [{"manifest_path": p, "content": 0,
                  "sequence_number": snap.get("sequence-number", 0)}
                 for p in snap["manifests"]]
    else:
        raise NotImplementedError(
            "iceberg snapshot carries neither 'manifest-list' nor the"
            " v1 inline 'manifests' form"
        )
    files = []
    delete_files = []
    n_manifests = 0
    for m in mlist:
        m_spec_id = m.get("partition_spec_id", 0)
        m_content = m.get("content", 0)
        if m_content not in (0, 1):
            raise NotImplementedError(
                f"iceberg manifest content {m_content}"
            )
        n_manifests += 1
        with open(m["manifest_path"], "rb") as fh:
            entries = decode_avro(fh.read())["records"]
        for e in entries:
            if e["status"] == _STATUS_DELETED:
                continue
            df = e["data_file"]
            fc = df.get("content", 0)
            if m_content == 0 and fc != 0:
                raise ValueError(
                    "iceberg delete file listed in a DATA manifest"
                )
            if m_content == 1 and fc not in (1, 2):
                raise ValueError(
                    "iceberg data file listed in a DELETE manifest"
                )
            fmt = df["file_format"].upper()
            is_dv = (
                fc == 1 and df.get("referenced_data_file") is not None
            )
            if is_dv:
                # v3 deletion vector: a Puffin blob range
                if fmt != "PUFFIN":
                    raise ValueError(
                        "iceberg deletion-vector entry must be PUFFIN,"
                        f" got {df['file_format']}"
                    )
                if (df.get("content_offset") is None
                        or df.get("content_size_in_bytes") is None):
                    raise ValueError(
                        "iceberg deletion-vector entry lacks"
                        " content_offset/content_size_in_bytes"
                    )
            elif fc == 0 and fmt == "ORC":
                pass  # ORC data files scan natively (Spark reader)
            elif fmt != "PARQUET":
                raise NotImplementedError(
                    f"iceberg file format {df['file_format']}"
                )
            # sequence-number inheritance: ADDED entries written with a
            # null sequence number take the manifest-list entry's
            eseq = e.get("sequence_number")
            if eseq is None:
                eseq = m.get("sequence_number", 0)
            rec = {
                "path": df["file_path"],
                "format": fmt,
                "records": df["record_count"],
                "seq": eseq,
                "partition": df.get("partition"),
                "spec_id": m_spec_id,
                **_decode_stats(df),
            }
            if fc == 0:
                files.append(rec)
            else:
                rec["content"] = fc
                rec["equality_ids"] = df.get("equality_ids")
                if fc == 2 and not rec["equality_ids"]:
                    raise ValueError(
                        "iceberg equality-delete file without equality_ids"
                    )
                if is_dv:
                    rec["referenced_data_file"] = \
                        df["referenced_data_file"]
                    rec["content_offset"] = int(df["content_offset"])
                    rec["content_size_in_bytes"] = int(
                        df["content_size_in_bytes"]
                    )
                delete_files.append(rec)
    # resolve the CURRENT schema by current-schema-id (schemas[0] is
    # typically the OLDEST after evolution — equality_ids and predicate
    # columns must resolve against the schema the table is at now)
    schemas = meta.get("schemas") or [{}]
    cur_id = meta.get("current-schema-id")
    current = next(
        (s for s in schemas if s.get("schema-id") == cur_id), schemas[0]
    )
    return {
        "snapshot_id": snapshot_id,
        "files": files,
        "delete_files": delete_files,
        "n_manifests": n_manifests,
        "sequence_number": snap.get("sequence-number"),
        "schema_fields": current.get("fields", []),
        "partition_specs": {
            int(s.get("spec-id", 0)): s.get("fields", [])
            for s in meta.get("partition-specs", [])
        },
    }


_ICE_TO_SPARK = {
    "boolean": "boolean", "int": "int", "long": "bigint",
    "float": "float", "double": "double", "string": "string",
    "date": "date", "timestamp": "timestamp",
    "timestamptz": "timestamp", "binary": "binary",
}


def _spark_type(t):
    """Iceberg type (primitive string or nested dict) -> Spark type."""
    from pyspark.sql import types as T

    if isinstance(t, str) and t.startswith("decimal("):
        # iceberg "decimal(P, S)" parses as a Spark decimal directly
        return T._parse_datatype_string(t.replace(" ", ""))
    if isinstance(t, str) and t in _ICE_TO_SPARK:
        return T._parse_datatype_string(_ICE_TO_SPARK[t])
    if isinstance(t, dict):
        kind = t.get("type")
        if kind == "struct":
            return T.StructType([
                T.StructField(
                    f["name"], _spark_type(f["type"]),
                    not f.get("required", False),
                )
                for f in t.get("fields", [])
            ])
        if kind == "list":
            return T.ArrayType(
                _spark_type(t["element"]),
                not t.get("element-required", False),
            )
        if kind == "map":
            return T.MapType(
                _spark_type(t["key"]), _spark_type(t["value"]),
                not t.get("value-required", False),
            )
    raise NotImplementedError(
        f"iceberg type {t!r} in the empty-scan schema"
    )


def _spark_schema(schema_fields: list[dict]):
    """Iceberg schema fields -> Spark StructType (incl. nested
    struct/list/map columns; the empty-result path needs a typed
    frame, not a row scan)."""
    from pyspark.sql import types as T

    return T.StructType([
        T.StructField(
            f["name"], _spark_type(f.get("type")),
            not f.get("required", False),
        )
        for f in schema_fields
    ])


def _resolve_predicate_field(
    schema_fields: list[dict], col: str
) -> tuple[int, str]:
    """Predicate column (possibly a dotted struct path like
    "addr.zip") -> (field id, primitive iceberg type). Iceberg tracks
    NESTED fields by their own ids and manifests record bounds/counts
    per nested field id, so struct-member predicates prune exactly
    like top-level ones. List/map elements have no single bounds slot
    and reject. Unknown paths raise (typo guard, same contract as
    top-level)."""
    parts = col.split(".")
    fields = schema_fields
    fld = None
    for i, part in enumerate(parts):
        by_name = {f["name"]: f for f in fields}
        if part not in by_name:
            where = ".".join(parts[: i + 1])
            raise ValueError(
                f"predicate column {where!r} not in the table schema"
            )
        fld = by_name[part]
        t = fld.get("type")
        if i < len(parts) - 1:
            if not (isinstance(t, dict) and t.get("type") == "struct"):
                raise ValueError(
                    f"predicate path {col!r} descends through"
                    f" non-struct field {part!r}"
                )
            fields = t.get("fields", [])
    t = fld.get("type")
    if isinstance(t, dict):
        raise NotImplementedError(
            f"iceberg predicate over {t.get('type')!r}-typed field"
            f" {col!r} (list/map elements carry no single bounds slot;"
            " struct MEMBERS prune — name them by dotted path)"
        )
    return int(fld["id"]), t


def plan_iceberg_scan(
    metadata_path: str,
    snapshot_id: int | None = None,
    predicates: list[tuple] | None = None,
    partition_filter=None,
    ref: str | None = None,
) -> dict[str, Any]:
    """Metadata-time planning: resolve the snapshot's live files, then
    prune data files a predicate provably cannot match — the move that
    makes a 100 TB Iceberg table readable (touch 2 files, not 2,000).

    ``predicates``: [(column, op, constant)], op in =, <, <=, >, >=,
    in — each is checked against (a) the file's r102 partition struct
    THROUGH the partition spec's transform (identity / bucket[N] /
    truncate[W] / year/month/day/hour — the predicate constant is
    transformed, per the spec's planning rules; bucket serves only
    equality) and (b) the manifest's lower_bounds/upper_bounds for the
    column's field id. Conservative throughout: missing stats, an
    unknown transform, or an op the transform cannot serve keep the
    file. Apply the SAME predicate in the query too — skipping is
    file-granular. Delete files are NEVER pruned (an equality delete
    must still hit every kept file it is newer than).

    Returns the ``iceberg_live_files`` dict with ``files`` filtered
    plus ``n_candidates`` / ``n_pruned`` for plan assertions.

    Reference parity: query_iceberg_duckdb.py:24-27 gets this from
    DuckDB's iceberg extension; native here."""
    from pyiceberg_lakehouse_spark.lakehouse.iceberg_transforms import (
        bounds_may_match,
        deserialize_single_value,
        partition_may_match,
    )

    resolved = iceberg_live_files(metadata_path, snapshot_id, ref=ref)
    n_candidates = len(resolved["files"])
    files = resolved["files"]
    if partition_filter is not None:
        kept = []
        for f in files:
            if f.get("partition") is None:
                raise ValueError(
                    "partition_filter on a table whose manifests carry"
                    " no partition struct"
                )
            if partition_filter(f["partition"]):
                kept.append(f)
        files = kept
    if predicates:
        for col, op, const in predicates:
            # dotted struct paths resolve to the NESTED field's own id
            # (Iceberg manifests record bounds/null counts per nested
            # field id, so addr.zip prunes exactly like a top-level
            # column)
            fid, ice_type = _resolve_predicate_field(
                resolved["schema_fields"], col
            )
            if op in ("is null", "is not null"):
                # null-count pruning (manifest fields 109/110): a file
                # with zero nulls cannot serve IS NULL; a file whose
                # every row is null cannot serve IS NOT NULL. Missing
                # counts keep the file.
                kept = []
                for f in files:
                    nulls = (f.get("null_value_counts") or {}).get(fid)
                    vals = (f.get("value_counts") or {}).get(fid)
                    if op == "is null":
                        keep = nulls is None or nulls > 0
                    else:
                        keep = (nulls is None or vals is None
                                or nulls < vals)
                    if keep:
                        kept.append(f)
                files = kept
                continue
            kept = []
            for f in files:
                keep = True
                # (a) partition-transform check
                spec = resolved["partition_specs"].get(
                    f.get("spec_id", 0), []
                )
                part = f.get("partition") or {}
                for sf in spec:
                    if int(sf.get("source-id", -1)) != fid:
                        continue
                    if sf["name"] not in part:
                        continue  # older spec wrote no value: keep
                    try:
                        may = partition_may_match(
                            sf.get("transform", "identity"),
                            part[sf["name"]], op, const, ice_type,
                        )
                    except NotImplementedError:
                        # a KNOWN transform over a source type this
                        # planner can't hash/truncate (foreign-written
                        # spec): planning is an optimization — keep
                        # the file; the in-query filter owns
                        # correctness
                        may = True
                    if not may:
                        keep = False
                        break
                # (b) manifest stats check
                if keep:
                    lo_b = (f.get("lower_bounds") or {}).get(fid)
                    up_b = (f.get("upper_bounds") or {}).get(fid)
                    try:
                        lo = (deserialize_single_value(lo_b, ice_type)
                              if lo_b is not None else None)
                        up = (deserialize_single_value(up_b, ice_type)
                              if up_b is not None else None)
                        keep = bounds_may_match(lo, up, op, const)
                    except NotImplementedError:
                        keep = True  # un-deserializable bounds type:
                        # conservative keep, same contract as above
                if keep:
                    kept.append(f)
            files = kept
    resolved["files"] = files
    resolved["n_candidates"] = n_candidates
    resolved["n_pruned"] = n_candidates - len(files)
    return resolved


# read at call time, so the scale bench and plan-pin tests can set it here
# to exercise both delete-join strategies on one fixture
BROADCAST_DELETE_ROWS = mor.BROADCAST_DELETE_ROWS


def _partition_python_value(v, ice_type: str):
    """Manifest r102 partition value -> the Python value Spark's
    createDataFrame needs for the column's type (date days / timestamp
    micros decode per Appendix D's integer representations)."""
    import datetime as _dt

    if v is None:
        return None
    if ice_type in ("int", "long"):
        return int(v)
    if ice_type == "date":
        return _dt.date(1970, 1, 1) + _dt.timedelta(days=int(v))
    if ice_type == "timestamp":
        return _dt.datetime(1970, 1, 1) + _dt.timedelta(
            microseconds=int(v)
        )
    if ice_type == "timestamptz":
        return _dt.datetime(
            1970, 1, 1, tzinfo=_dt.timezone.utc
        ) + _dt.timedelta(microseconds=int(v))
    if ice_type in ("float", "double"):
        return float(v)
    if ice_type == "boolean":
        return bool(v)
    if ice_type == "string":
        return str(v)
    raise NotImplementedError(
        f"identity partition projection for iceberg type {ice_type!r}"
    )


def _identity_projection_df(spark, resolved, missing_fields):
    """Spec 'Column Projection': per-file values for current-schema
    fields ABSENT from the data files, resolved from the manifest's
    r102 partition struct when an identity transform covers the field
    (null otherwise, per the spec's fallback). Metadata-scale: one row
    per data FILE, broadcast against the scan."""
    from pyspark.sql import types as T

    rows = []
    for f in resolved["files"]:
        spec = resolved["partition_specs"].get(f.get("spec_id", 0), [])
        part = f.get("partition") or {}
        vals = []
        for mf in missing_fields:
            fid = int(mf["id"])
            src = next(
                (sf for sf in spec
                 if sf.get("transform", "identity") == "identity"
                 and int(sf.get("source-id", -1)) == fid), None,
            )
            raw = part.get(src["name"]) if src else None
            vals.append(_partition_python_value(raw, mf["type"]))
        rows.append((os.path.abspath(f["path"]), *vals))
    schema = T.StructType(
        [T.StructField(mor.PATH, T.StringType(), False)]
        + [
            T.StructField(
                mf["name"],
                _spark_schema([dict(mf, required=False)])
                .fields[0].dataType,
                True,
            )
            for mf in missing_fields
        ]
    )
    return local_rows_df(spark, rows, schema)


def read_iceberg_table(
    spark: SparkSession,
    metadata_path: str,
    snapshot_id: int | None = None,
    partition_filter=None,
    predicates: list[tuple] | None = None,
    ref: str | None = None,
) -> DataFrame:
    """One Catalyst parquet scan over the snapshot's live file list —
    the engine-native ``iceberg_scan`` — with v2 merge-on-read deletes
    applied by ``mor.apply_deletes``, the anti-join the lakehouse scan
    uses too:

    - position deletes (content=1; parquet rows of (file_path, pos))
      remove a data row when the delete file's data sequence number is
      >= the data file's (same commit or later, per spec);
    - equality deletes (content=2; parquet rows of the equality
      columns, resolved from equality_ids via the table schema) remove
      matching rows from STRICTLY OLDER data files (delete seq > data
      seq), null-safe per the spec's NaN/null-matching rule, and only
      of data files in the delete's own partition (spec id and values)
      unless the delete's spec is unpartitioned.

    Scale posture: the delete sides carry manifest record counts, so a
    small delete set (the overwhelmingly common case) is broadcast; the
    data side stays one Catalyst parquet scan, and each delete kind (each
    equality-column set) one scan, with per-file sequence numbers
    attached by a broadcast join on ``_metadata.file_path``.

    ``partition_filter``: a predicate over the manifest-recorded r102
    partition-struct values (identity transforms) applied at METADATA
    time; ``predicates``: [(col, op, const)] simple predicates pushed
    through the spec's partition TRANSFORMS (bucket/truncate/temporal)
    and the manifest lower/upper bounds (plan_iceberg_scan) — pruned
    data files never reach the scan, the planning move that makes a
    100 TB partitioned table readable (delete files are never pruned:
    an equality delete must still hit every kept file it is newer
    than). A filter that prunes EVERY file returns an empty, correctly
    typed DataFrame — a legitimate query result, not an error."""
    from pyspark.sql import functions as F

    resolved = plan_iceberg_scan(
        metadata_path, snapshot_id, predicates, partition_filter, ref=ref
    )
    if not resolved["files"]:
        if resolved["schema_fields"]:
            # pruning emptied the list, or the snapshot is genuinely
            # empty (a just-created table / pre-append time travel):
            # both are legitimate empty results, typed by the schema
            return local_rows_df(
                spark, [], _spark_schema(resolved["schema_fields"])
            )
        raise ValueError(
            "iceberg snapshot lists no data files and no schema"
        )
    pq_paths = [
        f["path"] for f in resolved["files"]
        if f.get("format", "PARQUET") == "PARQUET"
    ]
    orc_paths = [
        f["path"] for f in resolved["files"]
        if f.get("format") == "ORC"
    ]
    readers = []  # (DataFrame, has_row_index)
    if pq_paths:
        readers.append((spark.read.parquet(*pq_paths), True))
    if orc_paths:
        # mixed-format tables (a migration reality): ORC files scan
        # through Spark's native ORC reader and union with the
        # parquet scan. Spark's ORC reader exposes _metadata.file_path
        # but NOT row_index, so position deletes / deletion vectors
        # cannot address ORC rows — gated below; equality deletes
        # (value+sequence semantics) apply fine.
        readers.append((spark.read.orc(*orc_paths), False))

    def union(dfs):
        return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), dfs)

    reader = union([r for r, _h in readers])
    if orc_paths and any(
        d["content"] == 1 for d in resolved["delete_files"]
    ):
        raise NotImplementedError(
            "iceberg position deletes / deletion vectors over ORC"
            " data files: Spark's ORC reader exposes no"
            " _metadata.row_index to address rows by ordinal"
        )
    # spec "Column Projection": a current-schema field id absent from
    # the data files resolves from the manifest partition metadata
    # when an identity transform exists for it — the shape of
    # migrated / add_files tables and of this engine's own
    # export_iceberg_table (hive-layout data files drop identity
    # partition columns); no covering transform reads as null.
    data_cols = set(reader.columns)
    missing = [
        f for f in resolved["schema_fields"]
        if isinstance(f.get("type"), str) and f["name"] not in data_cols
    ]
    if not resolved["delete_files"] and not missing:
        return reader
    schema_order = [f["name"] for f in resolved["schema_fields"]]

    # data rows + their file's path (the Spark-side URI percent-DECODED to
    # the manifests' raw form) + row position within the file.
    # _metadata is a per-scan pseudo-column: attach it on each
    # format's reader BEFORE the union (it does not resolve through a
    # Union node). ORC scans carry a NULL ordinal — the gate above
    # keeps ordinal-addressed deletes off them.
    base = union([
        r.select(
            "*",
            mor.norm_path().alias(mor.PATH),
            (F.col("_metadata.row_index") if has_rowidx
             else F.lit(None).cast("long")).alias(mor.POS),
        )
        for r, has_rowidx in readers
    ])
    if missing:
        base = base.join(
            F.broadcast(_identity_projection_df(spark, resolved, missing)),
            mor.PATH,
            "left",
        )
    if not resolved["delete_files"]:
        return base.drop(mor.PATH, mor.POS).select(*schema_order)

    # an equality delete under a partitioned spec removes rows of data
    # files with its own spec id and partition values only; one under an
    # unpartitioned spec, rows of every partition
    def scope(f: dict) -> str:
        return json.dumps(
            [f.get("spec_id", 0), f.get("partition") or {}], sort_keys=True, default=str
        )

    id_to_name = {int(f["id"]): f["name"] for f in resolved["schema_fields"]}
    by_cols: dict[tuple[tuple[str, ...], bool], list[dict]] = {}
    for d in resolved["delete_files"]:
        if d["content"] != 2:
            continue
        try:
            cols = tuple(id_to_name[int(i)] for i in d["equality_ids"])
        except KeyError as exc:
            raise ValueError(
                f"equality_ids {d['equality_ids']} not in the table"
                " schema"
            ) from exc
        scoped = bool(resolved["partition_specs"].get(d.get("spec_id", 0)))
        by_cols.setdefault((cols, scoped), []).append(d)
    data = mor.with_sequence(
        base,
        {f["path"]: int(f["seq"]) for f in resolved["files"]},
        scopes={f["path"]: scope(f) for f in resolved["files"]}
        if any(scoped for _c, scoped in by_cols) else None,
    )

    def small(df, group):
        return mor.small(df, sum(d["records"] for d in group), BROADCAST_DELETE_ROWS)

    pos_files = [
        d for d in resolved["delete_files"]
        if d["content"] == 1 and "referenced_data_file" not in d
    ]
    dv_files = [
        d for d in resolved["delete_files"]
        if d["content"] == 1 and "referenced_data_file" in d
    ]
    parts = []
    if pos_files:
        # one scan under the spec's fixed (file_path string, pos long)
        # schema (fields 2147483546/2147483545): no footer inference, and
        # Spark widens a noncompliant writer's int32 pos to the requested
        # bigint. The referenced paths are raw manifest strings.
        parts.append(mor.read_sequenced(
            spark.read.schema("file_path string, pos bigint"),
            {d["path"]: int(d["seq"]) for d in pos_files},
            [mor.norm_path("file_path", decode=False).alias(mor.PATH),
             F.col("pos").alias(mor.POS)],
        ))
    if dv_files:
        # v3 DELETION VECTORS: one Puffin-framed roaring bitmap
        # per data file (the spec's one-DV-per-file invariant,
        # enforced), exploded to (path, pos) rows EXECUTOR-side —
        # positions are never collected in one process, so a 100 TB
        # table's accumulated DVs decode in parallel next to the
        # scan they filter
        seen: set[str] = set()
        for d in dv_files:
            if d["referenced_data_file"] in seen:
                raise ValueError(
                    "iceberg v3: multiple deletion vectors"
                    " reference one data file:"
                    f" {d['referenced_data_file']}"
                )
            seen.add(d["referenced_data_file"])
        desc = local_rows_df(spark,
            [(d["path"], int(d["content_offset"]),
              int(d["content_size_in_bytes"]),
              d["referenced_data_file"], int(d["seq"]))
             for d in dv_files],
            "puffin string, off long, size long,"
            " ref string, seq long",
        )

        def _explode_dv(it):
            import pandas as pd

            from pyiceberg_lakehouse_spark.lakehouse.puffin import (
                decode_deletion_vector,
                read_puffin_blob,
            )

            for pdf in it:
                for row in pdf.itertuples():
                    pos = decode_deletion_vector(
                        read_puffin_blob(
                            row.puffin, row.off, row.size
                        )
                    )
                    yield pd.DataFrame({
                        "ref": row.ref,
                        "pos": pd.Series(pos, dtype="int64"),
                        "seq": row.seq,
                    })

        parts.append(
            desc.repartition(min(len(dv_files), 64))
            .mapInPandas(_explode_dv, "ref string, pos long, seq long")
            .select(
                mor.norm_path("ref", decode=False).alias(mor.PATH),
                F.col("pos").alias(mor.POS),
                F.col("seq").alias(mor.SEQ),
            )
        )
    positions = small(union(parts), pos_files + dv_files) if parts else None

    equality = [
        ([*cols, mor.SCOPE] if scoped else list(cols), small(mor.read_sequenced(
            spark.read,
            {d["path"]: int(d["seq"]) for d in group},
            [F.col(c) for c in cols],
            {d["path"]: scope(d) for d in group} if scoped else None,
        ), group))
        for (cols, scoped), group in by_cols.items()
    ]
    data = mor.apply_deletes(data, positions, equality)
    return data.select(*schema_order) if missing else data
