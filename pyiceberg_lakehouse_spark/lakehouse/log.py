"""Per-table JSON snapshot log: a base file plus one immutable entry per commit.

The log is the table's entire metadata: schema, partition spec, and an
ordered list of snapshots. Each snapshot records its operation and the data
files it ADDED (with per-file partition values, so flat layouts — partition
info only in metadata, main-polars.py:2-5 — work identically to hive
layouts). The live file set at any snapshot is derived by replay: ``append``
and ``add_files`` accumulate, ``overwrite`` resets, ``replace`` swaps a
subset (used by partition-scoped merges and compaction).

On disk the log is a *base*, ``_snaplog.json`` (format v2: the table
metadata and every snapshot up to some id), and a sibling directory
``_snaplog.d/`` with one *entry* per later commit, ``<snapshot id>.json``:
that commit's snapshot plus any table metadata it changed. Loading reads
the base, then the entries above the base's last id in order — the Delta
Lake transaction-log design (Armbrust et al., VLDB 2020). A log written
before entries existed is a base with no entries.

Entries and base store each snapshot *packed* (``Snapshot.packed``): a
snapshot's ``removed_paths``, ``added_deletes`` and ``summary`` are left
out when empty, a file's ``partition`` when it is ``{}`` and its ``rows``
when null, and a file's ``added_in`` or a delete's ``snapshot_id`` when it
is the snapshot's own id (a rollback's or an expiry base's re-listed
entries keep theirs). ``Snapshot.from_json`` restores every one, so the
snapshots in memory and ``to_json()`` have the full form. Logs written in
the full form, or mixing both, load unchanged.

Every non-empty base and entry is stored as zlib-compressed UTF-8 JSON
(stdlib ``zlib``, default level): keys, path prefixes and stats names
repeat in every file entry, so a folded base shrinks about tenfold.
Delta Lake's checkpoints and Iceberg's deflate manifests compress their
metadata too. ``decode_log`` is the one reader: bytes that start with the
zlib header's ``x`` are decompressed, anything else is read as plain JSON
(no JSON text starts with ``x``), so plain logs of earlier versions, and
tails mixing both, load unchanged. The names stay ``.json``. The fold
rule below counts decoded bytes, so a compressed base folds as often as a
plain one. To read a log file by hand::

    python3 -c "import sys, zlib; print(zlib.decompress(sys.stdin.buffer.read()).decode())" <_snaplog.json

Schema history: ``add_column``, ``drop_column`` and ``rename_column`` are
metadata-only commits whose summaries record the event. Files carry no
field ids, so which name a file holds a column under follows from when the
file was added (``added_in``) against those events, and this module is the
one place that reads them. ``SnapshotLog.column_resolver`` maps a file's
``added_in`` to ``{current column: its name in the file, or None}``; None
means the column reads NULL there because the file may hold another
column's bytes under its name (a re-add after a drop or a rename away
must not serve the old bytes). A plain add keeps the name: the file lacks
it and reads NULL by name, and its map stays equal to a newer file's.
``commit_schema_event`` writes the event summaries. The table read path
and the ``lakehouse`` data source (batch and stream) resolve through it;
``schema_events`` gates what cannot cross the history (Iceberg export,
purge, the change-data shortcut), and ``forward_names`` maps a delete
file's key columns forward. Snapshot expiry drops the event
snapshots but keeps their events on the new base, under ``rename_history``
({snapshot_id, from, to}) and ``column_history`` ({snapshot_id, op,
name}): ``stash_schema_history``. The log also owns partition-path
decoding: ``parse_hive_partition`` turns a written file's hive segments
into the partition values every writer logs, and load decodes the values
older logs hold encoded (``_decode_raw_segments``, and the format v1 note
in ``_load_base``), so every reader takes a logged value as it is.

Commit protocol: under an ``flock`` on ``.commit.lock``, a commit checks
that its head's entry exists, the next id's does not, and the base is the
file it last read. It then publishes one entry: a temp file in the same
directory, fsynced and ``os.replace``d into place (atomic on POSIX), then
the directory fsynced, so the publish survives a power loss. It reads no
snapshot content and writes only its own snapshot. When the tail's
decoded bytes reach the base's, the commit first *folds*: it rewrites the
base with every snapshot and deletes the entries the base now covers, so
fold writes sum to at most about twice the final log. Every whole-log
rewrite (expiry, refs, properties, rename, fast-forward) is such a fold
and leaves an empty marker entry under the head's id. A handle that fails
the check falls back to a full load and the optimistic concurrency rules
of ``SnapshotLog.commit``.

Mirrors: snapshot history read_history.py:10-11; metadata location
read_history.py:8; one-snapshot-per-append vs transactional batching
main-daft.py:121-138 vs main-polars.py:165-186.
"""

from __future__ import annotations

import contextlib
import copy
import fcntl
import json
import os
import re
import tempfile
import time
import zlib
from dataclasses import dataclass, field
from typing import Any, Callable, NamedTuple
from urllib.parse import unquote

from pyspark.sql import types as T


# Spark/Hive escapePathName charset: ASCII control chars, DEL, and these
# printables are percent-encoded in partition path segments; everything
# else (including space) passes through literally.
_V1_PATH_ESCAPED = set('"#%\'*/:=?\\{[]^\x7f') | {chr(c) for c in range(0x20)}


def _v1_safe_unquote(v: str) -> str:
    """Decode a v1 partition VALUE only if it is an exact image of the
    Spark path encoder — re-encoding the decoded string must reproduce the
    stored one. Anything else (already-decoded user data with literal
    ``%XX``) is returned unchanged. See the load() migration note."""
    dec = unquote(v)
    if dec == v:
        return v
    reenc = "".join(
        f"%{ord(ch):02X}" if ch in _V1_PATH_ESCAPED else ch for ch in dec
    )
    return dec if reenc == v else v


_HIVE_SEG = re.compile(r"([^/=]+)=([^/]+)")
# the path segment Spark and pyarrow write for a NULL partition value; the
# log stores it as written, so readers of logged values map it to NULL
HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


def parse_hive_partition(rel_path: str) -> dict[str, str]:
    """key=value partition segments from a path, PERCENT-DECODED.

    Spark's and pyarrow's writers escape special characters in partition
    path segments — in the KEY as well as the value (``a/b=c`` ->
    ``a%2Fb%3Dc``); the log must store the DECODED pair or a
    ``partition_filter={"cat": "a/b=c"}`` prunes away the matching file.
    Values older logs hold encoded are decoded once at load (format v1:
    ``SnapshotLog._load_base``; earlier data-source writes:
    ``_decode_raw_segments``). NULL partitions keep the writer's sentinel
    string, ``HIVE_NULL``. (Empty-string partition values are a Hive-layout
    limitation: Spark writes ``cat=`` and reads it back as NULL.)
    """
    return {
        unquote(k): unquote(v)
        for k, v in _HIVE_SEG.findall(rel_path.replace(os.sep, "/"))
    }


def _decode_raw_segments(snap: Snapshot) -> None:
    """Decode the partition values a ``lakehouse`` data-source write of an
    earlier version logged as pyarrow wrote the path segment (``x%2Fy``).

    Such a value still equals its file's path segment, and a decoded value
    holding a ``%`` cannot: both writers encode ``%`` as ``%25``. So this
    decodes exactly those values, once, whatever commit re-listed the
    file, and leaves every decoded value as it is; a rewritten base holds
    the decoded form and is not decoded again."""
    for f in snap.added_files:
        part = f.get("partition")
        if part and any(isinstance(v, str) and "%" in v for v in part.values()):
            f["partition"] = {
                k: unquote(v)
                if isinstance(v, str) and "%" in v and f"/{k}={v}/" in f["path"]
                else v
                for k, v in part.items()
            }


@contextlib.contextmanager
def _commit_lock(table_dir: str, timeout_s: float = 30.0):
    """Exclusive inter-process lock: ``flock`` on ``.commit.lock``.

    The lock file is opened afresh on each acquisition, so every holder has
    its own open file description and threads of one process exclude each
    other too. The kernel releases the lock when its holder's descriptor
    closes, including when the process dies, so a crashed writer never
    blocks the next one. The file itself is never removed: unlinking it
    would let a waiter lock an inode nobody else can see.
    """
    lock_path = os.path.join(table_dir, ".commit.lock")
    fd = os.open(lock_path, os.O_CREAT | os.O_RDWR, 0o644)
    try:
        deadline = time.monotonic() + timeout_s
        while True:
            try:
                fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
                break
            except BlockingIOError:
                if time.monotonic() > deadline:
                    raise TimeoutError(f"commit lock busy: {lock_path}") from None
                time.sleep(0.05)
        yield
    finally:
        os.close(fd)


def _replace(path: str, text: str) -> None:
    """Write ``text`` zlib-compressed (empty stays empty: the head marker
    is 0 bytes) to a temp file beside ``path``, then ``os.replace`` it
    onto ``path`` — readers see the old file or the new one, never a
    partial write. The temp file is fsynced before the replace and the
    directory after it, so after a power loss the name holds the old or
    the new bytes, never an empty file, and the publish itself survives."""
    dirname = os.path.dirname(path)
    fd, tmp = tempfile.mkstemp(prefix=".snaplog.", dir=dirname)
    try:
        with os.fdopen(fd, "wb") as f:
            f.write(zlib.compress(text.encode()) if text else b"")
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)  # atomic on POSIX
    except BaseException:
        if os.path.exists(tmp):
            os.unlink(tmp)
        raise
    dfd = os.open(dirname, os.O_RDONLY)
    try:
        os.fsync(dfd)
    finally:
        os.close(dfd)


def decode_log(raw: bytes, path: str) -> bytes:
    """The JSON text of a log file (base or entry) whose bytes are ``raw``:
    decompressed if they start with the zlib header's ``x``, else as stored
    (a plain log of an earlier version, or the empty head marker).
    Compressed bytes that do not decompress raise ``ValueError`` naming
    ``path``."""
    if raw[:1] != b"x":
        return raw
    try:
        return zlib.decompress(raw)
    except zlib.error as e:
        raise ValueError(f"malformed snapshot log file {path}: {e}") from None


def _winners_touch(
    on_disk: "SnapshotLog", head: int, parts: list[dict[str, str]]
) -> bool:
    """Did any commit that landed after our ``head`` touch one of the
    partitions in ``parts``? Added files carry their partition values
    directly; removed paths are resolved through every added-file entry in
    the on-disk log (a file can only be removed after being added there).
    Unresolvable paths count as touching — unknown state is a conflict,
    never a silent retry."""

    def in_parts(pd: dict[str, str]) -> bool:
        return any(all(pd.get(k) == v for k, v in p.items()) for p in parts)

    winners = [s for s in on_disk.snapshots if s.snapshot_id > head]
    partition_of = {
        f["path"]: f.get("partition") or {}
        for s in on_disk.snapshots
        for f in s.added_files
    }
    for s in winners:
        for f in s.added_files:
            if in_parts(f.get("partition") or {}):
                return True
        for rp in s.removed_paths:
            pd = partition_of.get(rp)
            if pd is None or in_parts(pd):
                return True
    return False


# Snapshot fields the log leaves out when empty, and the per-file and
# per-delete fields it leaves out when they hold these defaults;
# ``Snapshot.from_json`` puts every one back.
_OMITTED_EMPTY = ("removed_paths", "added_deletes", "summary")


def _file_defaults(snapshot_id: int) -> dict[str, Any]:
    return {"partition": {}, "rows": None, "added_in": snapshot_id}


def _delete_defaults(snapshot_id: int) -> dict[str, Any]:
    return {"snapshot_id": snapshot_id}


def _without(d: dict[str, Any], omit: dict[str, Any]) -> dict[str, Any]:
    """``d`` less the keys of ``omit`` whose value equals ``omit``'s."""
    return {k: v for k, v in d.items() if k not in omit or v != omit[k]}


def _with(d: dict[str, Any], defaults: dict[str, Any]) -> dict[str, Any]:
    """``d`` plus the keys of ``defaults`` it lacks, appended after its own
    (so ``packed`` drops them and keeps ``d``'s key order)."""
    return {**d, **{k: v for k, v in defaults.items() if k not in d}}


class SchemaEvent(NamedTuple):
    """One add/drop/rename column commit: ``name`` is the column (for a
    rename, its old name) and ``to`` a rename's new name."""

    snapshot_id: int
    op: str  # add | drop | rename
    name: str
    to: str | None = None


def _schema_events(snapshots: list[Snapshot]) -> list[SchemaEvent]:
    """The schema events the summaries of ``snapshots`` record, live and
    stashed by expiry, in commit order."""
    out = []
    for s in snapshots:
        sm = s.summary
        for h in sm.get("rename_history", ()):
            out.append(SchemaEvent(h["snapshot_id"], "rename", h["from"], h["to"]))
        for h in sm.get("column_history", ()):
            out.append(SchemaEvent(h["snapshot_id"], h["op"], h["name"]))
        if "rename_column" in sm:
            rc = sm["rename_column"]
            out.append(SchemaEvent(s.snapshot_id, "rename", rc["from"], rc["to"]))
        for op in ("add", "drop"):
            if f"{op}_column" in sm:
                out.append(SchemaEvent(s.snapshot_id, op, sm[f"{op}_column"]))
    return sorted(out, key=lambda e: e.snapshot_id)


@dataclass
class Snapshot:
    snapshot_id: int
    parent_id: int | None
    operation: str  # create | append | overwrite | add_files | replace | delete | schema_change
    timestamp_ms: int
    added_files: list[dict[str, Any]]
    # ^ data files: {"path": str, "partition": {col: str}, "rows": int|None,
    #   "stats": {col: [min, max]}}, and for bloom columns "bloom": {col:
    #   {"m", "k", "type", "off"}} — the bitmaps are in the file's sidecar
    #   (bloom.py); older logs hold each inline as base64 "bits"
    removed_paths: list[str] = field(default_factory=list)  # for replace
    added_deletes: list[dict[str, Any]] = field(default_factory=list)
    # ^ merge-on-read delete files: equality form {"path", "key_cols",
    #   "snapshot_id"} or position form {"path", "kind": "position",
    #   "snapshot_id"} — (file_path, pos) rows, file_path the data file's
    #   path as this log records it (older files hold Spark's file: URI)
    summary: dict[str, Any] = field(default_factory=dict)

    def to_json(self) -> dict[str, Any]:
        return {
            "snapshot_id": self.snapshot_id,
            "parent_id": self.parent_id,
            "operation": self.operation,
            "timestamp_ms": self.timestamp_ms,
            "added_files": self.added_files,
            "removed_paths": self.removed_paths,
            "added_deletes": self.added_deletes,
            "summary": self.summary,
        }

    def packed(self) -> dict[str, Any]:
        """``to_json()`` without the default-valued fields ``from_json``
        restores: the form both the entries and the base store."""
        sid = self.snapshot_id
        d = self.to_json()
        d["added_files"] = [_without(f, _file_defaults(sid)) for f in self.added_files]
        d["added_deletes"] = [_without(x, _delete_defaults(sid)) for x in self.added_deletes]
        return {k: v for k, v in d.items() if k not in _OMITTED_EMPTY or v}

    @staticmethod
    def from_json(d: dict[str, Any]) -> "Snapshot":
        sid = d["snapshot_id"]
        return Snapshot(
            snapshot_id=sid,
            parent_id=d.get("parent_id"),
            operation=d["operation"],
            timestamp_ms=d["timestamp_ms"],
            added_files=[{**_file_defaults(sid), **f} for f in d.get("added_files", [])],
            removed_paths=d.get("removed_paths", []),
            added_deletes=[
                {**_delete_defaults(sid), **x} for x in d.get("added_deletes", [])
            ],
            summary=d.get("summary", {}),
        )


class SnapshotLog:
    """Loads, mutates, and atomically commits one table's metadata.

    ``branch`` selects an alternative log (``_snaplog-branch-<name>.json``
    and its ``.d`` entry directory): branches are full snapshot logs
    sharing the table's immutable data files, so branch writes never touch
    main's metadata. All branches of a table serialize through the same
    commit lock.
    """

    FILENAME = "_snaplog.json"
    BRANCH_PREFIX = "_snaplog-branch-"

    def __init__(self, table_dir: str, branch: str | None = None):
        self.table_dir = table_dir
        self.branch = branch if branch not in (None, "main") else None
        fname = (
            self.FILENAME
            if self.branch is None
            else f"{self.BRANCH_PREFIX}{self.branch}.json"
        )
        self.path = os.path.join(table_dir, fname)
        # entry names never end in .json, so no branch listing mistakes
        # this directory for a branch's base
        self.entry_dir = self.path[: -len(".json")] + ".d"
        self.schema_json: str | None = None
        self.partition_by: list[str] = []
        self.properties: dict[str, str] = {}
        self.snapshots: list[Snapshot] = []
        self.refs: dict[str, int] = {}  # named tags -> snapshot_id
        # what this handle last read from or wrote to disk: the base's
        # (inode, size, mtime_ns), its decoded length and format version,
        # the decoded bytes of the entries above it, and the table metadata
        # as persisted
        self._base_stat: tuple[int, int, int] | None = None
        self._base_len = 0
        self._base_version = 2
        self._tail_bytes = 0
        self._synced_meta: dict[str, Any] = {}

    @classmethod
    def branch_names(cls, table_dir: str) -> list[str]:
        """Names of the branches whose base logs live in ``table_dir``."""
        return sorted(
            fn[len(cls.BRANCH_PREFIX) : -len(".json")]
            for fn in os.listdir(table_dir)
            if fn.startswith(cls.BRANCH_PREFIX) and fn.endswith(".json")
        )

    def _entry_name(self, snapshot_id: int) -> str:
        # zero-padded so names sort by id; temp files start with "." and
        # sort below every entry
        return f"{snapshot_id:020d}.json"

    def _meta(self) -> dict[str, Any]:
        """The table metadata under the keys of the on-disk format."""
        return {
            "schema": self.schema_json,
            "partition_by": self.partition_by,
            "properties": self.properties,
            "refs": self.refs,
        }

    def _set_meta(self, meta: dict[str, Any]) -> None:
        if "schema" in meta:
            self.schema_json = meta["schema"]
        if "partition_by" in meta:
            self.partition_by = list(meta["partition_by"])
        if "properties" in meta:
            self.properties = dict(meta["properties"])
        if "refs" in meta:
            self.refs = {k: int(v) for k, v in meta["refs"].items()}

    def _mark_synced(self, base_stat: os.stat_result, base_len: int, tail_bytes: int) -> None:
        self._base_stat = (base_stat.st_ino, base_stat.st_size, base_stat.st_mtime_ns)
        self._base_len = base_len
        self._tail_bytes = tail_bytes
        self._synced_meta = {k: copy.copy(v) for k, v in self._meta().items()}

    # ------------------------------------------------------------- state --

    def exists(self) -> bool:
        return os.path.exists(self.path)

    def load(self) -> "SnapshotLog":
        """Read the base, then every entry above its last id, in id order.

        The base is authoritative for every id it holds, so entries a
        crashed fold left behind are never read. A fold that replaces the
        base while this runs may delete entries under it; the base's inode
        then no longer matches the open file's, and the read starts over.
        """
        while True:
            with open(self.path, "rb") as f:
                base = os.fstat(f.fileno())
                text = decode_log(f.read(), self.path)
                self._load_base(json.loads(text))
                sid = self.current_snapshot_id() or 0
                tail_bytes = 0
                while True:
                    sid += 1
                    path = os.path.join(self.entry_dir, self._entry_name(sid))
                    try:
                        with open(path, "rb") as ef:
                            raw = ef.read()
                    except FileNotFoundError:
                        break
                    if not raw:  # a newer base's marker: a fold is racing us
                        break
                    entry_text = decode_log(raw, path)
                    entry = json.loads(entry_text)
                    self._set_meta(entry)
                    snap = Snapshot.from_json(entry["snapshot"])
                    _decode_raw_segments(snap)
                    self.snapshots.append(snap)
                    tail_bytes += len(entry_text)
                with contextlib.suppress(FileNotFoundError):
                    if os.stat(self.path).st_ino == base.st_ino:
                        break
        self._mark_synced(base, len(text), tail_bytes)
        return self

    def _load_base(self, d: dict[str, Any]) -> None:
        self._set_meta({"partition_by": [], "properties": {}, "refs": {}, **d})
        self.snapshots = [Snapshot.from_json(s) for s in d.get("snapshots", [])]
        self._base_version = int(d.get("format_version", 1))
        # format_version 1 logs persisted partition dicts as Spark wrote the
        # path segments — percent-ENCODED keys and values (``a/b=c`` stored
        # as ``a%2Fb%3Dc``), so partition_filter with special-character
        # values wrongly pruned the matching files. v2 stores them decoded
        # at write time; older logs are decoded once here at load. Keys are
        # always decoded (column names are schema-controlled). VALUES are
        # decoded only when re-encoding the decoded string with Spark's own
        # path-escape charset round-trips to the stored one — i.e. the
        # stored string is an exact image of the v1 encoder. This protects
        # the intermediate v1 generation that already stored DECODED values
        # (keys still encoded): user data whose escapes are not a Spark
        # encoding image (e.g. ``100%20off`` — Spark never escapes spaces)
        # passes through untouched instead of being decoded a second time
        # (ADVICE r8). A value that IS an exact encoder image (``a%2Fb``)
        # remains formally ambiguous between the two generations; we take
        # the decode, matching the dominant v1 population.
        if self._base_version < 2:
            for snap in self.snapshots:
                for fentry in snap.added_files:
                    part = fentry.get("partition")
                    if part:
                        fentry["partition"] = {
                            unquote(k): _v1_safe_unquote(v)
                            for k, v in part.items()
                        }
        else:
            for snap in self.snapshots:
                _decode_raw_segments(snap)

    def schema(self) -> T.StructType:
        assert self.schema_json is not None
        return T.StructType.fromJson(json.loads(self.schema_json))

    def current_snapshot_id(self) -> int | None:
        return self.snapshots[-1].snapshot_id if self.snapshots else None

    def live_files(self, snapshot_id: int | None = None) -> list[dict[str, Any]]:
        """Replay the log up to ``snapshot_id`` (default: head) -> file set.

        Each entry carries ``added_in`` (the committing snapshot id), which
        sequences it against merge-on-read deletes.
        """
        live: dict[str, dict[str, Any]] = {}
        for snap in self.snapshots:
            if snap.operation == "overwrite":
                live = {}
            for p in snap.removed_paths:
                live.pop(p, None)
            for f in snap.added_files:
                live[f["path"]] = {**f, "added_in": f.get("added_in", snap.snapshot_id)}
            if snapshot_id is not None and snap.snapshot_id == snapshot_id:
                break
        else:
            if snapshot_id is not None:
                raise KeyError(f"snapshot {snapshot_id} not found in {self.path}")
        return list(live.values())

    def live_deletes(self, snapshot_id: int | None = None) -> list[dict[str, Any]]:
        """Merge-on-read delete files in effect at ``snapshot_id``.

        An ``overwrite`` resets deletes along with the data; ``replace``
        keeps them (replacement files get a LATER added_in than any existing
        delete, so sequencing already exempts them).

        Retirement (ADVICE r14): a delete applies only to data files with
        ``added_in`` strictly BEFORE its commit, so once every such file
        has left the live set (e.g. ``compact()`` rewrote them all in a
        replace snapshot), the delete can never match a row again — it is
        pruned here instead of forcing the with-deletes read path (and
        its anti-joins) forever. The log entry itself stays in history,
        so time travel to pre-compaction snapshots still sees it.
        """
        deletes: list[dict[str, Any]] = []
        live_added_in: dict[str, int] = {}
        for snap in self.snapshots:
            if snap.operation == "overwrite":
                deletes = []
                live_added_in = {}
            for p in snap.removed_paths:
                live_added_in.pop(p, None)
            for f in snap.added_files:
                live_added_in[f["path"]] = f.get("added_in", snap.snapshot_id)
            deletes.extend(snap.added_deletes)
            if snapshot_id is not None and snap.snapshot_id == snapshot_id:
                break
        oldest_live = min(live_added_in.values(), default=None)
        if oldest_live is None:
            return []
        return [d for d in deletes if oldest_live < d["snapshot_id"]]

    def snapshot_at(self, timestamp_ms: int) -> int:
        """Latest snapshot committed at or before ``timestamp_ms``
        (Iceberg's as-of-timestamp resolution)."""
        eligible = [s.snapshot_id for s in self.snapshots if s.timestamp_ms <= timestamp_ms]
        if not eligible:
            raise KeyError(f"no snapshot at or before {timestamp_ms} in {self.path}")
        return eligible[-1]

    def set_ref(self, name: str, snapshot_id: int) -> None:
        """Create/update a named tag pointing at an existing snapshot.

        Metadata-only and atomic (same lock + rename as commits); tags pin
        history for reproducible reads — e.g. tag a training-data snapshot
        and every consumer reads exactly those files regardless of later
        appends. ``expire_snapshots`` keeps tagged snapshots reachable only
        if they fall in the retained window, same as Iceberg's retention.
        """
        with _commit_lock(self.table_dir):
            on_disk = SnapshotLog(self.table_dir, self.branch).load()
            if snapshot_id not in [s.snapshot_id for s in on_disk.snapshots]:
                raise KeyError(f"snapshot {snapshot_id} not found in {self.path}")
            on_disk.refs[name] = snapshot_id
            on_disk._write()
            self.load()

    def drop_ref(self, name: str) -> None:
        with _commit_lock(self.table_dir):
            on_disk = SnapshotLog(self.table_dir, self.branch).load()
            on_disk.refs.pop(name, None)
            on_disk._write()
            self.load()

    def set_properties(self, props: dict[str, str]) -> None:
        """ALTER TABLE SET TBLPROPERTIES — atomic, metadata-only (same lock
        + rename as commits). Used e.g. to enable the change-data feed on an
        existing table; snapshots already committed are unaffected."""
        with _commit_lock(self.table_dir):
            on_disk = SnapshotLog(self.table_dir, self.branch).load()
            on_disk.properties.update({k: str(v) for k, v in props.items()})
            on_disk._write()
            self.load()

    def target_file_bytes(self) -> int:
        """``write.target-file-size-bytes``: the size compaction and the
        write path aim each data file at (default 512 MB, the reference's
        main-daft.py:106)."""
        return int(self.properties.get("write.target-file-size-bytes", 512 * 1024 * 1024))

    def records_per_file(self) -> int:
        """Rows per written file: ``write.target-records-per-file``, else
        the target file size over ``write.estimated-row-bytes`` (Spark
        sizes output files by records, not bytes)."""
        records = self.properties.get("write.target-records-per-file")
        if records is None:
            records = self.target_file_bytes() // int(
                self.properties.get("write.estimated-row-bytes", 64)
            )
        return int(records)

    # ---------------------------------------------------- schema history --

    def schema_events(self, since: int = 0) -> list[SchemaEvent]:
        """Add/drop/rename column events committed after snapshot ``since``
        (default: all), including those expiry stashed; empty when the
        table's schema never changed by name."""
        return [e for e in _schema_events(self.snapshots) if e.snapshot_id > since]

    def column_resolver(self) -> Callable[[int], dict[str, str | None]]:
        """The resolver: a file's ``added_in`` -> {current column: the name
        the file holds it under, or None when it reads NULL there}.

        Walks the events committed after the file newest-first: a rename
        maps the column back to its old name; an add means the column did
        not exist when the file was written. After a plain add the file
        lacks the name and reads NULL under it, so the name stays and the
        map equals the one of a file written after the add. After a drop
        or a rename away of that name, whatever the file holds under it is
        another column's bytes: None. Memoized per ``added_in``; callers
        do not mutate the maps."""
        events = self.schema_events()
        names = [f["name"] for f in json.loads(self.schema_json)["fields"]]
        maps: dict[int, dict[str, str | None]] = {}

        def resolve(added_in: int) -> dict[str, str | None]:
            if added_in not in maps:
                later = [e for e in reversed(events) if e.snapshot_id > added_in]
                out: dict[str, str | None] = {}
                for name in names:
                    cur: str | None = name
                    for i, e in enumerate(later):
                        if e.op == "rename" and cur == e.to:
                            cur = e.name
                        elif e.op == "add" and cur == e.name:
                            older = later[i + 1 :]
                            if any(o.op != "add" and o.name == cur for o in older):
                                cur = None
                            break
                    out[name] = cur
                maps[added_in] = out
            return maps[added_in]

        return resolve

    def forward_names(self, names: list[str], since: int) -> list[str]:
        """Map column names recorded at snapshot ``since`` (a delete file's
        key columns) forward through every later rename to current names."""
        renames = [e for e in self.schema_events(since) if e.op == "rename"]
        out = []
        for cur in names:
            for e in renames:
                if cur == e.name:
                    cur = e.to
            out.append(cur)
        return out

    def commit_schema_event(
        self, op: str, name: str, to: str | None = None
    ) -> Snapshot:
        """Commit the schema this handle holds as one ``SchemaEvent`` (op
        add, drop or rename; ``to`` a rename's new name), under the summary
        keys ``schema_events`` reads back."""
        summary = (
            {"rename_column": {"from": name, "to": to}}
            if op == "rename"
            else {f"{op}_column": name}
        )
        return self.commit("schema_change", [], summary=summary)

    def stash_schema_history(self, keep_from: int) -> None:
        """Before expiry drops ``snapshots[:keep_from]``, keep their schema
        events on ``snapshots[keep_from]`` (the new base): retained files
        keep their ``added_in``, so reading them still depends on those
        events. Writes ``rename_history`` / ``column_history`` only when
        there is something to keep."""
        base = self.snapshots[keep_from].summary
        events = _schema_events(self.snapshots[:keep_from])
        renames = [
            {"snapshot_id": e.snapshot_id, "from": e.name, "to": e.to}
            for e in events
            if e.op == "rename"
        ]
        columns = [
            {"snapshot_id": e.snapshot_id, "op": e.op, "name": e.name}
            for e in events
            if e.op != "rename"
        ]
        if renames:
            base["rename_history"] = renames + base.get("rename_history", [])
        if columns:
            base["column_history"] = columns + base.get("column_history", [])

    # ------------------------------------------------------------ commits --

    def init_table(
        self,
        schema: T.StructType,
        partition_by: list[str],
        properties: dict[str, str] | None = None,
    ) -> None:
        self.schema_json = schema.json()
        self.partition_by = list(partition_by)
        self.properties = dict(properties or {})
        self.snapshots = [
            Snapshot(
                snapshot_id=1,
                parent_id=None,
                operation="create",
                timestamp_ms=int(time.time() * 1000),
                added_files=[],
            )
        ]
        os.makedirs(self.table_dir, exist_ok=True)
        self._write()

    # ops safe to auto-retry after refreshing to the winner's state: they
    # only ADD files, so their outcome doesn't depend on the state they were
    # planned against (as do key-delete commits, see ``commit``).
    # overwrite/replace/position deletes computed file sets against a
    # now-stale snapshot and must surface the conflict to the caller.
    COMMUTATIVE_OPS = ("append", "add_files", "schema_change")

    def commit(
        self,
        operation: str,
        added_files: list[dict[str, Any]],
        removed_paths: list[str] | None = None,
        summary: dict[str, Any] | None = None,
        added_deletes: list[dict[str, Any]] | None = None,
        retry_conflicts: int = 0,
        preserve_sequencing: bool = False,
        touched_partitions: list[dict[str, str]] | None = None,
    ) -> Snapshot:
        """Append one snapshot atomically.

        The freshness check and the entry publish run under the commit lock,
        so two processes can't interleave check-then-publish. A handle whose
        head and base still match the disk reads nothing: it writes its
        snapshot, plus any table metadata changed on this handle since it
        was read, as one entry. Otherwise it loads the log; if the disk
        holds other snapshots than this handle, that is a conflict:
        commutative operations may refresh to the winner's state and retry
        up to ``retry_conflicts`` times — the multi-writer append story;
        everything else raises.

        A ``delete`` commit whose deletes are all equality (key) deletes
        retries like an append: it adds data files and key deletes, and a
        key delete applies by sequence number to whatever is live below
        it, so no part of it was computed from the state it read. A
        position delete names rows of live files and is not retried.

        ``touched_partitions`` narrows the conflict check for ``replace``
        commits (Iceberg-style overwrite validation): the replace was
        planned from ONLY those partitions' state, so a concurrent commit
        that touched none of them — hourly-partition ingest, a disjoint
        backfill, another partition-scoped merge elsewhere — is no
        conflict at all; the commit refreshes to the winner's state and
        retries (up to ``retry_conflicts``). A winner that added to or
        removed from a touched partition still raises: our file swap was
        computed against state it just changed. This is what lets many
        writers land partition-scoped merges concurrently instead of
        serializing through failures.

        ``preserve_sequencing=True`` keeps a pre-existing ``added_in`` /
        ``snapshot_id`` on the supplied entries instead of stamping the new
        snapshot's id — rollback re-lists an older file set and must keep
        the original sequence numbers so merge-on-read delete ordering stays
        correct, all within this single atomic commit.
        """
        # metadata edited on this handle (schema evolution, rollup cursors)
        # rides in the entry; a refresh after a conflict keeps it
        changes = {k: v for k, v in self._meta().items() if v != self._synced_meta.get(k)}
        attempts = 0
        while True:
            with _commit_lock(self.table_dir):
                on_disk = None
                if not self._fresh() or self._fold_due():
                    on_disk = SnapshotLog(self.table_dir, self.branch).load()
                # head id must match too: after expire_snapshots shrinks the
                # log, a stale handle's cached LENGTH can alias the new length
                # (expiry + N commits) even though its snapshot list is stale;
                # ids are monotonic so the head id never aliases.
                if on_disk is None or (
                    len(on_disk.snapshots) == len(self.snapshots)
                    and on_disk.current_snapshot_id() == self.current_snapshot_id()
                ):
                    if on_disk is not None:
                        self._adopt(on_disk)
                        if self._fold_due():
                            self._write()
                        # a log written before entries existed has no directory
                        os.makedirs(self.entry_dir, exist_ok=True)
                        self._set_meta(changes)
                    snap_id = (self.current_snapshot_id() or 0) + 1
                    snap = Snapshot(
                        snapshot_id=snap_id,
                        parent_id=self.current_snapshot_id(),
                        operation=operation,
                        timestamp_ms=int(time.time() * 1000),
                        added_files=[
                            _with(
                                {"added_in": snap_id, **f}
                                if preserve_sequencing
                                else {**f, "added_in": snap_id},
                                _file_defaults(snap_id),
                            )
                            for f in added_files
                        ],
                        removed_paths=list(removed_paths or []),
                        added_deletes=[
                            {"snapshot_id": snap_id, **d}
                            if preserve_sequencing
                            else {**d, "snapshot_id": snap_id}
                            for d in (added_deletes or [])
                        ],
                        summary=dict(summary or {}),
                    )
                    entry = json.dumps({**changes, "snapshot": snap.packed()})
                    # publishing the entry is the commit point; a failure
                    # before it leaves the head, on disk and here, at the
                    # previous snapshot
                    _replace(os.path.join(self.entry_dir, self._entry_name(snap_id)), entry)
                    self.snapshots.append(snap)
                    self._tail_bytes += len(entry)
                    self._synced_meta.update(
                        {k: copy.copy(v) for k, v in changes.items()}
                    )
                    return snap
            # conflict: another writer advanced the log since we loaded it
            retryable = (
                operation in self.COMMUTATIVE_OPS
                or (
                    operation == "delete"
                    and bool(added_deletes)
                    and all(d.get("kind") != "position" for d in added_deletes)
                )
                or (
                    operation == "replace"
                    and touched_partitions is not None
                    and not _winners_touch(
                        on_disk, self.current_snapshot_id() or 0, touched_partitions
                    )
                )
            )
            if attempts >= retry_conflicts or not retryable:
                raise RuntimeError(
                    f"concurrent commit detected on {self.path}: "
                    f"expected {len(self.snapshots)} snapshots "
                    f"(head {self.current_snapshot_id()}), "
                    f"found {len(on_disk.snapshots)} "
                    f"(head {on_disk.current_snapshot_id()})"
                )
            attempts += 1
            self._adopt(on_disk)
            self._set_meta(changes)

    def _fresh(self) -> bool:
        """Is the disk still what this handle last read or wrote? Three
        stats, no snapshot content. While the base stays put, each commit
        adds the entry after the head, so the head is still ours iff that
        entry is absent. A whole-log rewrite replaces the base and deletes
        the entries below its head, so one that moved the head also removed
        our head's entry. The base's inode, size and mtime can alias; the
        entry checks do not rely on them, so a false "fresh" needs a rewrite
        that kept the head id (or died before its cleanup). A false "stale"
        only costs a load."""
        if self._base_stat is None:
            return False
        head = self.current_snapshot_id() or 0
        try:
            base = os.stat(self.path)
        except FileNotFoundError:
            return False
        entry = os.path.join(self.entry_dir, self._entry_name(head))
        after = os.path.join(self.entry_dir, self._entry_name(head + 1))
        return (
            (base.st_ino, base.st_size, base.st_mtime_ns) == self._base_stat
            and os.path.exists(entry)
            and not os.path.exists(after)
        )

    def _fold_due(self) -> bool:
        """Fold the tail into the base once it is as large as the base (or
        the base predates format v2): the base then at least doubles per
        fold, so fold writes sum to about twice the final log. Both sides
        are decoded bytes, so a compressed base folds no more often than a
        plain one."""
        assert self._base_stat is not None
        return self._base_version < 2 or self._tail_bytes >= self._base_len

    def _adopt(self, other: "SnapshotLog") -> None:
        """Take ``other``'s state (a fresh load of this same log)."""
        self._set_meta(other._meta())
        self.snapshots = other.snapshots
        self._base_stat = other._base_stat
        self._base_len = other._base_len
        self._base_version = other._base_version
        self._tail_bytes = other._tail_bytes
        self._synced_meta = other._synced_meta

    def _write(self) -> None:
        """Rewrite the base with every snapshot, then delete the entries it
        covers, leaving an empty marker under the head's id (see
        ``_fresh``)."""
        payload = {
            # v2: partition dicts are stored percent-DECODED (keys and
            # values); see the load() migration note
            "format_version": 2,
            **self._meta(),
            "snapshots": [s.packed() for s in self.snapshots],
        }
        head = self._entry_name(self.current_snapshot_id() or 0)
        os.makedirs(self.entry_dir, exist_ok=True)
        names = os.listdir(self.entry_dir)
        # entries above the new head (a dropped branch re-created, a table
        # re-created in place) would read as the new base's tail
        for name in names:
            if name > head:
                os.unlink(os.path.join(self.entry_dir, name))
        text = json.dumps(payload)
        _replace(self.path, text)
        base = os.stat(self.path)
        # the base holds the head's content; its entry stays as an empty
        # marker so a commit can check the head by name
        _replace(os.path.join(self.entry_dir, head), "")
        for name in names:
            if name < head:  # covered by the base, or a crashed temp file
                with contextlib.suppress(FileNotFoundError):
                    os.unlink(os.path.join(self.entry_dir, name))
        self._base_version = 2
        self._mark_synced(base, len(text), 0)
