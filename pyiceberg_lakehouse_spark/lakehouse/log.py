"""Per-table JSON snapshot log: a base file plus one immutable entry per commit.

The log is the table's entire metadata: schema, partition spec, and an
ordered list of snapshots. Each snapshot records its operation and the data
files it ADDED (with per-file partition values, so flat layouts — partition
info only in metadata, main-polars.py:2-5 — work identically to hive
layouts). The live file set at any snapshot is derived by replay: ``append``
and ``add_files`` accumulate, ``overwrite`` resets, ``replace`` swaps a
subset (used by partition-scoped upsert/compaction).

On disk the log is a *base*, ``_snaplog.json`` (format v2: the table
metadata and every snapshot up to some id), and a sibling directory
``_snaplog.d/`` with one *entry* per later commit, ``<snapshot id>.json``:
that commit's snapshot plus any table metadata it changed. Loading reads
the base, then the entries above the base's last id in order — the Delta
Lake transaction-log design (Armbrust et al., VLDB 2020). A log written
before entries existed is a base with no entries.

Commit protocol: under an ``flock`` on ``.commit.lock``, a commit checks
that its head's entry exists, the next id's does not, and the base is the
file it last read. It then publishes one entry: a temp file in the same
directory, ``os.replace``d into place (atomic on POSIX). It reads no
snapshot content and writes only its own snapshot. When the tail's bytes
reach the base's, the commit first *folds*: it rewrites the base with every
snapshot and deletes the entries the base now covers, so fold writes sum to
at most about twice the final log. Every whole-log rewrite (expiry, refs,
properties, rename, fast-forward) is such a fold and leaves an empty
marker entry under the head's id. A handle that fails the check falls back
to a full load and the optimistic concurrency rules of
``SnapshotLog.commit``.

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
import tempfile
import time
from dataclasses import dataclass, field
from typing import Any

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
    from urllib.parse import unquote

    dec = unquote(v)
    if dec == v:
        return v
    reenc = "".join(
        f"%{ord(ch):02X}" if ch in _V1_PATH_ESCAPED else ch for ch in dec
    )
    return dec if reenc == v else v


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


def _replace(path: str, data: str) -> None:
    """Write ``data`` to a temp file beside ``path``, then ``os.replace``
    it onto ``path`` — readers see the old file or the new one, never a
    partial write."""
    fd, tmp = tempfile.mkstemp(prefix=".snaplog.", dir=os.path.dirname(path))
    try:
        with os.fdopen(fd, "w") as f:
            f.write(data)
        os.replace(tmp, path)  # atomic on POSIX
    except BaseException:
        if os.path.exists(tmp):
            os.unlink(tmp)
        raise


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


@dataclass
class Snapshot:
    snapshot_id: int
    parent_id: int | None
    operation: str  # create | append | overwrite | add_files | replace | delete | schema_change
    timestamp_ms: int
    added_files: list[dict[str, Any]]  # {"path": str, "partition": {col: str}, "rows": int|None}
    removed_paths: list[str] = field(default_factory=list)  # for replace
    added_deletes: list[dict[str, Any]] = field(default_factory=list)
    # ^ merge-on-read delete files: equality form {"path", "key_cols",
    #   "snapshot_id"} or position form {"path", "kind": "position",
    #   "snapshot_id"} — (file_path, pos) rows as _metadata reports them
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

    @staticmethod
    def from_json(d: dict[str, Any]) -> "Snapshot":
        return Snapshot(
            snapshot_id=d["snapshot_id"],
            parent_id=d.get("parent_id"),
            operation=d["operation"],
            timestamp_ms=d["timestamp_ms"],
            added_files=d.get("added_files", []),
            removed_paths=d.get("removed_paths", []),
            added_deletes=d.get("added_deletes", []),
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
        # (inode, size, mtime_ns), its format version, the bytes of the
        # entries above it, and the table metadata as persisted
        self._base_stat: tuple[int, int, int] | None = None
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

    def _mark_synced(self, base_stat: os.stat_result, tail_bytes: int) -> None:
        self._base_stat = (base_stat.st_ino, base_stat.st_size, base_stat.st_mtime_ns)
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
            with open(self.path) as f:
                base = os.fstat(f.fileno())
                d = json.load(f)
                self._load_base(d)
                sid = self.current_snapshot_id() or 0
                tail_bytes = 0
                while True:
                    sid += 1
                    try:
                        with open(
                            os.path.join(self.entry_dir, self._entry_name(sid))
                        ) as ef:
                            raw = ef.read()
                    except FileNotFoundError:
                        break
                    if not raw:  # a newer base's marker: a fold is racing us
                        break
                    entry = json.loads(raw)
                    self._set_meta(entry)
                    self.snapshots.append(Snapshot.from_json(entry["snapshot"]))
                    tail_bytes += len(raw)
                with contextlib.suppress(FileNotFoundError):
                    if os.stat(self.path).st_ino == base.st_ino:
                        break
        self._mark_synced(base, tail_bytes)
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
            from urllib.parse import unquote

            for snap in self.snapshots:
                for fentry in snap.added_files:
                    part = fentry.get("partition")
                    if part:
                        fentry["partition"] = {
                            unquote(k): _v1_safe_unquote(v)
                            for k, v in part.items()
                        }

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
    # planned against. overwrite/replace/delete computed file sets against a
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

        ``touched_partitions`` narrows the conflict check for ``replace``
        commits (Iceberg-style overwrite validation): the replace was
        planned from ONLY those partitions' state, so a concurrent commit
        that touched none of them — hourly-partition ingest, a disjoint
        backfill, another partition-scoped upsert elsewhere — is no
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
                            {"added_in": snap_id, **f}
                            if preserve_sequencing
                            else {**f, "added_in": snap_id}
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
                    entry = json.dumps({**changes, "snapshot": snap.to_json()})
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
            retryable = operation in self.COMMUTATIVE_OPS or (
                operation == "replace"
                and touched_partitions is not None
                and not _winners_touch(
                    on_disk, self.current_snapshot_id() or 0, touched_partitions
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
        fold, so fold writes sum to about twice the final log."""
        assert self._base_stat is not None
        return self._base_version < 2 or self._tail_bytes >= self._base_stat[1]

    def _adopt(self, other: "SnapshotLog") -> None:
        """Take ``other``'s state (a fresh load of this same log)."""
        self._set_meta(other._meta())
        self.snapshots = other.snapshots
        self._base_stat = other._base_stat
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
            "snapshots": [s.to_json() for s in self.snapshots],
        }
        head = self._entry_name(self.current_snapshot_id() or 0)
        os.makedirs(self.entry_dir, exist_ok=True)
        names = os.listdir(self.entry_dir)
        # entries above the new head (a dropped branch re-created, a table
        # re-created in place) would read as the new base's tail
        for name in names:
            if name > head:
                os.unlink(os.path.join(self.entry_dir, name))
        _replace(self.path, json.dumps(payload))
        base = os.stat(self.path)
        # the base holds the head's content; its entry stays as an empty
        # marker so a commit can check the head by name
        _replace(os.path.join(self.entry_dir, head), "")
        for name in names:
            if name < head:  # covered by the base, or a crashed temp file
                with contextlib.suppress(FileNotFoundError):
                    os.unlink(os.path.join(self.entry_dir, name))
        self._base_version = 2
        self._mark_synced(base, 0)
