"""Lakehouse tables as a registered Spark data source: ``format("lakehouse")``.

PySpark 4's Python DataSource API lets the snapshot log participate in
Spark's own planning instead of living behind helper functions:

- **batch**: ``spark.read.format("lakehouse").load(table_dir)`` — one input
  partition per live data file, planned driver-side from metadata only.
  ``option("snapshot_id", k)`` time-travels. ``pushFilters`` receives
  Catalyst's conjuncts and prunes the FILE LIST against the per-file min/max
  stats and identity partition values recorded in the log (the same skipping
  as ``LakehouseTable.scan(stat_filter=...)``, but driven by the query's own
  WHERE clause — no side-channel argument). Every filter is handed back to
  Spark for row-level evaluation: log-based skipping is file-granular.
  Equality (key) deletes apply in each task, to its own file, by the
  scan's sequence rule (a delete removes rows of files committed before
  it; key equality is NULL-safe); a table with live position deletes is
  refused until ``compact()``.
- **streaming**: ``spark.readStream.format("lakehouse").load(table_dir)`` —
  offsets ARE snapshot ids. Each micro-batch reads the files committed in
  ``(start, end]`` append/add_files snapshots, so partitioned tables stream
  correctly (partition values come from the log, not from hive-path
  discovery — the restriction in streaming/lakehouse_io.py:84 is gone).
  Non-append history (overwrite/replace/delete) raises, the same
  append-only contract as ``read_incremental``.

Executor-side reads go through pyarrow and yield Arrow record batches —
vectorized end to end, never per-row Python. At 100 TB the driver handles
O(files) metadata and each task opens exactly one file; offsets-by-snapshot
means a streaming restart replans from the checkpointed snapshot id alone.

Mirrors: snapshot-aware scan main.py-era reference scripts (read_history.py:
10-11, query_iceberg_duckdb.py:24-29); incremental/CDC posture matches
Iceberg's Spark streaming source (option ``from_snapshot`` ~=
``stream-from-timestamp``).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field
from functools import reduce
from typing import Any, Callable, Iterator, Sequence

from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceStreamWriter,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)

from pyiceberg_lakehouse_spark.lakehouse.log import (
    HIVE_NULL,
    SnapshotLog,
    parse_hive_partition,
)
from pyiceberg_lakehouse_spark.lakehouse.stats import prune_files


@dataclass
class FileSlice(InputPartition):
    """One data file + its identity partition values (hive-path columns are
    stripped from the file by Spark's writer, so the reader re-attaches
    them as constants from log metadata — flat and hive layouts unify).
    ``column_map`` is the log's resolver map for the file's ``added_in``:
    current name -> the name the file holds it under, or None for a column
    that reads NULL there (``SnapshotLog.column_resolver``). ``deletes``
    are the equality-delete files committed after the file, which apply to
    it: ``{"path", "seq", "keys": {current name: the name the delete file
    holds it under}}``."""

    path: str
    partition: dict = field(default_factory=dict)
    column_map: dict = field(default_factory=dict)
    deletes: list = field(default_factory=list)


def _opt_true(options: dict, key: str) -> bool:
    return str(options.get(key, "")).lower() in ("true", "1")


def _change_feed_schema(schema: T.StructType) -> T.StructType:
    """Table schema + the change-feed metadata columns (Delta CDF shape)."""
    return T.StructType(
        [
            *schema.fields,
            T.StructField("_change_type", T.StringType()),
            T.StructField("_commit_snapshot_id", T.LongType()),
        ]
    )


def _key_matcher(dcols: list) -> Callable[[list], Any]:
    """NULL-safe key-tuple membership, as the lakehouse scan applies
    equality deletes: a function of a batch's key arrays (one per key
    column) marking the rows whose tuple is among the rows of ``dcols``.
    A column value maps to its index among that delete column's distinct
    values (NULL to NULL's); each further column's (code, index) pair maps
    to its index among the delete rows' pairs, so codes stay below the
    delete row count and a value absent on the delete side leaves NULL."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def pair(code, idx, n):
        return pc.add(pc.multiply(code.cast(pa.int64()), n), idx.cast(pa.int64()))

    steps, code = [], None
    for dc in dcols:
        uniq = pc.unique(dc)
        idx = pc.index_in(dc, value_set=uniq, skip_nulls=False)
        if code is None:
            code, pairs = idx, None
        else:
            both = pair(code, idx, len(uniq))
            pairs = pc.unique(both)
            code = pc.index_in(both, value_set=pairs)
        steps.append((uniq, pairs))

    def match(bcols: list):
        code = None
        for bc, (uniq, pairs) in zip(bcols, steps):
            idx = pc.index_in(bc, value_set=uniq, skip_nulls=False)
            code = idx if pairs is None else pc.index_in(pair(code, idx, len(uniq)), value_set=pairs)
        return pc.is_valid(code)

    return match


def _delete_matcher(slice_: FileSlice, target) -> Callable[[Any], Any]:
    """A function of a conformed batch of ``slice_``'s file marking the
    rows ``slice_.deletes`` remove. Delete files are metadata-sized: each
    task reads the ones that apply to its file whole, with pyarrow."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    keys: dict[tuple, list] = {}
    for d in slice_.deletes:
        tbl = pq.read_table(d["path"], columns=list(d["keys"].values()))
        keys.setdefault(tuple(d["keys"]), []).append(
            pa.table({c: tbl.column(h).cast(target.field(c).type) for c, h in d["keys"].items()})
        )
    matchers = [
        (cols, _key_matcher([pa.concat_tables(group).column(c).combine_chunks() for c in cols]))
        for cols, group in keys.items()
    ]

    def hit(batch):
        return reduce(pc.or_, [
            match([batch.column(batch.schema.get_field_index(c)) for c in cols])
            for cols, match in matchers
        ])

    return hit


def _read_slice(slice_: FileSlice, schema_json: str) -> Iterator[Any]:
    """Yield Arrow record batches for one file, conformed to the table
    schema (column order, types, attached partition constants), less the
    rows its merge-on-read deletes remove."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from pyspark.sql.pandas.types import to_arrow_schema

    if not slice_.path:
        return
    schema = T.StructType.fromJson(json.loads(schema_json))
    target = to_arrow_schema(schema)
    pf = pq.ParquetFile(slice_.path)
    file_cols = set(pf.schema_arrow.names)
    cmap = slice_.column_map  # current -> name in the file, or None
    read_cols = [
        cmap.get(f.name, f.name)
        for f in target
        if cmap.get(f.name, f.name) in file_cols
    ]
    hit = _delete_matcher(slice_, target) if slice_.deletes else None
    for batch in pf.iter_batches(batch_size=1 << 16, columns=read_cols):
        tbl = pa.Table.from_batches([batch])
        n = len(tbl)
        arrays = []
        for f in target:
            fname = cmap.get(f.name, f.name)
            if fname in file_cols:
                arrays.append(tbl.column(fname).cast(f.type).combine_chunks())
            elif f.name in slice_.partition:
                v = slice_.partition[f.name]
                v = None if v == HIVE_NULL else v
                arrays.append(pa.array([v] * n, pa.string()).cast(f.type))
            else:
                arrays.append(pa.nulls(n, f.type))
        out = pa.RecordBatch.from_arrays(arrays, schema=target)
        yield out if hit is None else out.filter(pc.invert(hit(out)))


def _to_slice(
    f: dict[str, Any], resolve: Callable[[int], dict], deletes: Sequence[dict] = ()
) -> FileSlice:
    """``f``'s slice, carrying those of ``deletes`` committed after it
    (``seq``: the delete's ``snapshot_id``)."""
    added = f.get("added_in", 0)
    return FileSlice(
        path=f["path"],
        partition=dict(f.get("partition") or {}),
        column_map=resolve(added),
        deletes=[d for d in deletes if added < d["seq"]],
    )


class LakehouseBatchReader(DataSourceReader):
    """Metadata-planned batch reader with stats/partition file skipping."""

    def __init__(self, options: dict):
        self.table_dir = options["path"]
        snap = options.get("snapshot_id")
        self.snapshot_id = int(snap) if snap is not None else None
        log = SnapshotLog(self.table_dir, options.get("branch")).load()
        self.schema_json = log.schema_json
        from_snap = options.get("from_snapshot")
        deletes = log.live_deletes(self.snapshot_id)
        if any(d.get("kind") == "position" for d in deletes):
            raise ValueError(
                "table has merge-on-read position deletes "
                "(delete_where_positions); read it via LakehouseTable.scan(), "
                "which applies them, or compact() it first"
            )
        # equality deletes apply executor-side, by the scan's sequence rule;
        # an incremental read covers append-only history, so none of them
        # applies to its files
        self.deletes = [] if from_snap is not None else [
            {
                "path": d["path"],
                "seq": d["snapshot_id"],
                # a delete file holds its keys under their names AS OF its
                # commit; a later rename_column maps them forward
                "keys": dict(zip(log.forward_names(d["key_cols"], d["snapshot_id"]), d["key_cols"])),
            }
            for d in deletes
        ]
        if from_snap is not None:
            # batch incremental read: only files APPENDED in
            # (from_snapshot, to_snapshot] — Iceberg's incremental scan
            to_snap = options.get("to_snapshot")
            hi = int(to_snap) if to_snap is not None else (
                log.current_snapshot_id() or 0
            )
            lo = int(from_snap)
            self.files = []
            for s in log.snapshots:
                if not (lo < s.snapshot_id <= hi):
                    continue
                if s.operation in ("overwrite", "replace", "delete"):
                    raise ValueError(
                        f"snapshot {s.snapshot_id} is {s.operation!r}; "
                        "incremental read covers append-only history"
                    )
                self.files.extend(s.added_files)
        else:
            self.files = log.live_files(self.snapshot_id)
        self.resolve = log.column_resolver()
        # col -> list of (op, value) conjuncts for ``prune_files``, which
        # prunes on per-file stats and identity partition values
        self.stat_preds: dict[str, list] = {}

    _OPS = {
        EqualTo: "=",
        LessThan: "<",
        LessThanOrEqual: "<=",
        GreaterThan: ">",
        GreaterThanOrEqual: ">=",
        In: "in",
    }

    def pushFilters(self, filters: list[Filter]):
        for flt in filters:
            op = self._OPS.get(type(flt))
            if op is not None and len(flt.attribute) == 1:
                self.stat_preds.setdefault(flt.attribute[0], []).append((op, flt.value))
        # skipping is file-granular — Spark still evaluates every filter
        # against the rows, so partially-pruned files stay correct
        return filters

    def partitions(self) -> Sequence[InputPartition]:
        files = prune_files(self.files, self.stat_preds)
        # Spark requires >=1 partition; an empty path reads as no rows
        return [_to_slice(f, self.resolve, self.deletes) for f in files] or [
            FileSlice(path="")
        ]

    def read(self, partition: FileSlice) -> Iterator[Any]:
        return _read_slice(partition, self.schema_json)


class LakehouseStreamReader(DataSourceStreamReader):
    """Micro-batch source whose offsets are snapshot ids.

    ``branch`` targets a branch ref's log — a live pipeline can stream a
    staging branch's commits (audit consumers) without ever reading main.

    ``change_feed=true`` streams the row-level CHANGE FEED instead of the
    append stream: every row carries ``_change_type`` ('insert'/'delete')
    and ``_commit_snapshot_id``. Appends plan their added files as insert
    rows; copy-on-write rewrites plan the change-data files their commit
    persisted (table property ``change-data-feed=true``); compaction and
    z-order commit data-change=false and are invisible. Planning is pure
    metadata either way — no diff ever runs, so a consumer of a 100 TB
    table reads exactly the delta of each commit.
    """

    def __init__(self, options: dict):
        self.table_dir = options["path"]
        self.branch = options.get("branch")
        self.start_snapshot = int(options.get("from_snapshot", 0))
        self.change_feed = _opt_true(options, "change_feed")
        log = SnapshotLog(self.table_dir, self.branch).load()
        self.schema_json = (
            _change_feed_schema(log.schema()).json()
            if self.change_feed
            else log.schema_json
        )

    def initialOffset(self) -> dict:
        return {"snapshot_id": self.start_snapshot}

    def latestOffset(self) -> dict:
        log = SnapshotLog(self.table_dir, self.branch).load()
        return {"snapshot_id": log.current_snapshot_id() or 0}

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        lo, hi = start["snapshot_id"], end["snapshot_id"]
        log = SnapshotLog(self.table_dir, self.branch).load()
        resolve = log.column_resolver()
        slices: list[FileSlice] = []
        for snap in log.snapshots:
            if not (lo < snap.snapshot_id <= hi):
                continue
            # reorganization (compact/z-order) leaves the row multiset
            # untouched — both stream modes skip it (dataChange=false)
            if snap.summary.get("data-change") is False:
                continue
            if self.change_feed:
                meta = {"_commit_snapshot_id": str(snap.snapshot_id)}
                if snap.operation in ("append", "add_files"):
                    for f in snap.added_files:
                        s = _to_slice(f, resolve)
                        s.partition.update({**meta, "_change_type": "insert"})
                        slices.append(s)
                elif snap.summary.get("change-data-files"):
                    # delta rows carry _change_type in-file; the commit id
                    # attaches as a partition constant
                    slices.extend(
                        FileSlice(path=f["path"], partition=dict(meta))
                        for f in snap.summary["change-data-files"]
                    )
                elif snap.operation in ("create", "schema_change"):
                    continue
                else:
                    raise ValueError(
                        f"snapshot {snap.snapshot_id} is {snap.operation!r} "
                        "without change-data files; enable the table "
                        "property change-data-feed=true before mutating, "
                        "or restart the feed past this commit"
                    )
            else:
                if snap.operation in ("overwrite", "replace", "delete"):
                    raise ValueError(
                        f"snapshot {snap.snapshot_id} is {snap.operation!r}; the "
                        "streaming source covers append-only history — restart "
                        "from a fresh checkpoint past the rewrite"
                    )
                slices.extend(_to_slice(f, resolve) for f in snap.added_files)
        return slices or [FileSlice(path="")]

    def read(self, partition: FileSlice) -> Iterator[Any]:
        return _read_slice(partition, self.schema_json)

    def commit(self, end: dict) -> None:
        # offsets derive from the durable snapshot log; nothing to persist
        pass


@dataclass
class FilesWritten(WriterCommitMessage):
    """Per-task commit message: the file entries this task produced."""

    entries: list = field(default_factory=list)


def _writer_state(options: dict) -> dict:
    """Driver-side prep shared by batch and stream writers: load the log,
    reject specs the executor-side writer can't derive, size files."""
    table_dir = options["path"]
    log = SnapshotLog(table_dir).load()
    from pyiceberg_lakehouse_spark.lakehouse.transforms import parse_spec

    for spec in log.partition_by:
        if not parse_spec(spec).is_identity:
            raise ValueError(
                f"partition spec {spec!r} is a hidden-partitioning transform; "
                "write through LakehouseTable.append(), which derives it"
            )
    return {
        "table_dir": table_dir,
        "partition_by": list(log.partition_by),
        "columns": [f.name for f in log.schema().fields],
        "records_per_file": log.records_per_file(),
    }


def _write_task_batches(batches, state: dict, subdir: str) -> FilesWritten:
    """Executor side: write this task's Arrow batches as hive-partitioned
    zstd parquet under ``data/<subdir>/`` and collect per-file footer stats.

    Unique basenames make concurrent tasks (and streaming epochs) collision
    free in the shared directory; stats collection is executor-local footer
    reads, so at 100 TB the driver never touches a data file."""
    import uuid

    import pyarrow as pa
    import pyarrow.dataset as pads

    from pyiceberg_lakehouse_spark.lakehouse.stats import data_file_entry

    batches = [b for b in batches if b.num_rows > 0]
    if not batches:
        return FilesWritten([])
    out_dir = os.path.join(state["table_dir"], "data", subdir)
    written: list[str] = []
    kwargs: dict[str, Any] = {}
    if state["partition_by"]:
        kwargs["partitioning"] = pads.partitioning(
            pa.schema(
                [batches[0].schema.field(c) for c in state["partition_by"]]
            ),
            flavor="hive",
        )
    pads.write_dataset(
        batches,
        out_dir,
        schema=batches[0].schema,
        format="parquet",
        basename_template=f"task-{uuid.uuid4().hex[:12]}-{{i}}.parquet",
        existing_data_behavior="overwrite_or_ignore",
        max_rows_per_file=state["records_per_file"],
        max_rows_per_group=min(state["records_per_file"], 1 << 20),
        file_options=pads.ParquetFileFormat().make_write_options(compression="zstd"),
        file_visitor=lambda f: written.append(f.path),
        **kwargs,
    )
    entries = []
    for path in sorted(written):
        partition = parse_hive_partition(os.path.relpath(path, out_dir))
        partition = {k: v for k, v in partition.items() if k in state["partition_by"]}
        entries.append(data_file_entry(path, partition))
    return FilesWritten(entries)


def _delete_written(messages) -> None:
    for msg in messages:
        for e in getattr(msg, "entries", []) or []:
            if os.path.exists(e["path"]):
                os.unlink(e["path"])


class LakehouseBatchWriter(DataSourceArrowWriter):
    """``df.write.format("lakehouse").mode("append"|"overwrite").save(dir)``.

    Tasks write files (Arrow -> hive-partitioned zstd parquet, executor-side
    footer stats); the driver turns the collected commit messages into ONE
    snapshot-log commit — the same write-then-commit protocol as
    ``LakehouseTable.append``, now behind Spark's own writer API."""

    def __init__(self, options: dict, overwrite: bool):
        import uuid

        self.state = _writer_state(options)
        self.overwrite = overwrite
        self.subdir = f"commit-w-{uuid.uuid4().hex[:8]}"

    def write(self, iterator) -> FilesWritten:
        return _write_task_batches(iterator, self.state, self.subdir)

    def commit(self, messages) -> None:
        entries = [e for m in messages if m is not None for e in m.entries]
        log = SnapshotLog(self.state["table_dir"]).load()
        log.commit(
            "overwrite" if self.overwrite else "append",
            entries,
            summary={"writer": "datasource", "mode": "overwrite" if self.overwrite else "append"},
            retry_conflicts=0 if self.overwrite else 3,
        )

    def abort(self, messages) -> None:
        _delete_written(m for m in messages if m is not None)


class LakehouseStreamWriter(DataSourceStreamWriter):
    """``df.writeStream.format("lakehouse")...start(dir)``: one idempotent
    snapshot per micro-batch, exactly-once via the batch id recorded in the
    snapshot summary (same replay guard as streaming/lakehouse_io.py)."""

    def __init__(self, options: dict):
        import uuid

        self.state = _writer_state(options)
        self.subdir = f"stream-{uuid.uuid4().hex[:8]}"

    def write(self, iterator) -> FilesWritten:
        # rows arrive as an Arrow-batch iterator only for DataSourceArrowWriter;
        # the stream writer receives Rows — convert through pyarrow for the
        # same vectorized file write
        import pyarrow as pa

        schema = None
        from pyspark.sql.pandas.types import to_arrow_schema

        rows = list(iterator)
        if not rows:
            return FilesWritten([])
        schema = to_arrow_schema(
            T.StructType.fromJson(
                json.loads(SnapshotLog(self.state["table_dir"]).load().schema_json)
            )
        )
        cols = {
            f.name: pa.array([r[f.name] for r in rows]).cast(f.type)
            for f in schema
        }
        batch = pa.RecordBatch.from_arrays([cols[f.name] for f in schema], schema=schema)
        return _write_task_batches([batch], self.state, self.subdir)

    def commit(self, messages, batchId: int) -> None:
        log = SnapshotLog(self.state["table_dir"]).load()
        committed = {
            int(s.summary["streaming_batch_id"])
            for s in log.snapshots
            if "streaming_batch_id" in s.summary
        }
        if batchId in committed:  # replayed epoch — exactly-once holds
            _delete_written(m for m in messages if m is not None)
            return
        entries = [e for m in messages if m is not None for e in m.entries]
        log.commit(
            "append",
            entries,
            summary={"writer": "datasource-stream", "streaming_batch_id": batchId},
            retry_conflicts=3,
        )

    def abort(self, messages, batchId: int) -> None:
        _delete_written(m for m in messages if m is not None)


class LakehouseDataSource(DataSource):
    """``spark.dataSource.register(LakehouseDataSource)`` then
    ``spark.read.format("lakehouse").load(table_dir)`` (batch, time travel
    via ``snapshot_id``) or ``spark.readStream.format(...)`` (micro-batch
    stream, snapshot ids as offsets, ``from_snapshot`` to seek)."""

    @classmethod
    def name(cls) -> str:
        return "lakehouse"

    def schema(self) -> T.StructType:
        log = SnapshotLog(self.options["path"]).load()
        if _opt_true(self.options, "change_feed"):
            return _change_feed_schema(log.schema())
        return log.schema()

    def reader(self, schema: T.StructType) -> DataSourceReader:
        return LakehouseBatchReader(self.options)

    def streamReader(self, schema: T.StructType) -> DataSourceStreamReader:
        return LakehouseStreamReader(self.options)

    def writer(self, schema: T.StructType, overwrite: bool) -> LakehouseBatchWriter:
        expected = set(self.schema().names)
        got = set(schema.names)
        if got != expected:
            raise ValueError(
                f"dataframe columns {sorted(got)} != table columns {sorted(expected)}"
            )
        return LakehouseBatchWriter(self.options, overwrite)

    def streamWriter(self, schema: T.StructType, overwrite: bool) -> LakehouseStreamWriter:
        return LakehouseStreamWriter(self.options)


def register_lakehouse_source(spark) -> None:
    """Idempotent registration of the ``lakehouse`` format.

    Note for multi-threaded drivers: Python data source lookup goes through
    the JVM's thread-local active session. A Python thread created after
    registration maps to a new JVM thread with no active session, so
    ``format("lakehouse")`` fails there with DATA_SOURCE_NOT_FOUND until the
    thread re-activates it::

        spark._jvm.org.apache.spark.sql.classic.SparkSession\\
            .setActiveSession(spark._jsparkSession)
    """
    # required for pushFilters to participate in planning (off by default)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(LakehouseDataSource)
