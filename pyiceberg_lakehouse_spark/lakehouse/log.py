"""Per-table JSON snapshot log with atomic-rename commits.

The log is the table's entire metadata: schema, partition spec, and an
ordered list of snapshots. Each snapshot records its operation and the data
files it ADDED (with per-file partition values, so flat layouts — partition
info only in metadata, main-polars.py:2-5 — work identically to hive
layouts). The live file set at any snapshot is derived by replay: ``append``
and ``add_files`` accumulate, ``overwrite`` resets, ``replace`` swaps a
subset (used by partition-scoped upsert/compaction).

Commit protocol (SURVEY.md §7 hard-part 3): serialize to a temp file in the
same directory, ``os.replace`` onto the log path (atomic on POSIX), with an
optimistic concurrency check on the expected snapshot count — same
single-writer posture as the reference's SQLite catalog.

Mirrors: snapshot history read_history.py:10-11; metadata location
read_history.py:8; one-snapshot-per-append vs transactional batching
main-daft.py:121-138 vs main-polars.py:165-186.
"""

from __future__ import annotations

import contextlib
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
def _commit_lock(table_dir: str, timeout_s: float = 30.0, stale_s: float = 300.0):
    """Exclusive inter-process lock via O_CREAT|O_EXCL on a lock file.

    Creation is atomic on POSIX (including NFS for open+excl on modern
    kernels); a crashed writer's lock older than ``stale_s`` is broken.
    """
    lock_path = os.path.join(table_dir, ".commit.lock")
    deadline = time.monotonic() + timeout_s
    while True:
        try:
            fd = os.open(lock_path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            break
        except FileExistsError:
            try:
                if time.time() - os.path.getmtime(lock_path) > stale_s:
                    os.unlink(lock_path)  # break a dead writer's lock
                    continue
            except FileNotFoundError:
                continue
            if time.monotonic() > deadline:
                raise TimeoutError(f"commit lock busy: {lock_path}")
            time.sleep(0.05)
    try:
        os.write(fd, str(os.getpid()).encode())
        os.close(fd)
        yield
    finally:
        with contextlib.suppress(FileNotFoundError):
            os.unlink(lock_path)


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

    ``branch`` selects an alternative log file (``_snaplog-branch-<name>``):
    branches are full snapshot logs sharing the table's immutable data
    files, so branch writes never touch main's metadata. All branches of a
    table serialize through the same commit lock.
    """

    FILENAME = "_snaplog.json"

    def __init__(self, table_dir: str, branch: str | None = None):
        self.table_dir = table_dir
        self.branch = branch if branch not in (None, "main") else None
        fname = (
            self.FILENAME
            if self.branch is None
            else f"_snaplog-branch-{self.branch}.json"
        )
        self.path = os.path.join(table_dir, fname)
        self.schema_json: str | None = None
        self.partition_by: list[str] = []
        self.properties: dict[str, str] = {}
        self.snapshots: list[Snapshot] = []
        self.refs: dict[str, int] = {}  # named tags -> snapshot_id

    # ------------------------------------------------------------- state --

    def exists(self) -> bool:
        return os.path.exists(self.path)

    def load(self) -> "SnapshotLog":
        with open(self.path) as f:
            d = json.load(f)
        self.schema_json = d["schema"]
        self.partition_by = d.get("partition_by", [])
        self.properties = d.get("properties", {})
        self.snapshots = [Snapshot.from_json(s) for s in d.get("snapshots", [])]
        self.refs = {k: int(v) for k, v in d.get("refs", {}).items()}
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
        if int(d.get("format_version", 1)) < 2:
            from urllib.parse import unquote

            for snap in self.snapshots:
                for fentry in snap.added_files:
                    part = fentry.get("partition")
                    if part:
                        fentry["partition"] = {
                            unquote(k): _v1_safe_unquote(v)
                            for k, v in part.items()
                        }
        return self

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
            on_disk._write(expected_len=None)
            self.load()

    def drop_ref(self, name: str) -> None:
        with _commit_lock(self.table_dir):
            on_disk = SnapshotLog(self.table_dir, self.branch).load()
            on_disk.refs.pop(name, None)
            on_disk._write(expected_len=None)
            self.load()

    def set_properties(self, props: dict[str, str]) -> None:
        """ALTER TABLE SET TBLPROPERTIES — atomic, metadata-only (same lock
        + rename as commits). Used e.g. to enable the change-data feed on an
        existing table; snapshots already committed are unaffected."""
        with _commit_lock(self.table_dir):
            on_disk = SnapshotLog(self.table_dir, self.branch).load()
            on_disk.properties.update({k: str(v) for k, v in props.items()})
            on_disk._write(expected_len=None)
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
        self._write(expected_len=None)

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

        The optimistic check + rewrite runs under an O_EXCL lock file so two
        processes can't interleave check-then-replace (the rename alone is
        atomic but last-write-wins). On conflict, commutative operations may
        refresh to the winner's state and retry up to ``retry_conflicts``
        times — the multi-writer append story; everything else raises.

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
        attempts = 0
        while True:
            with _commit_lock(self.table_dir):
                on_disk = SnapshotLog(self.table_dir, self.branch).load()
                # head id must match too: after expire_snapshots shrinks the
                # log, a stale handle's cached LENGTH can alias the new length
                # (expiry + N commits) even though its snapshot list is stale;
                # ids are monotonic so the head id never aliases.
                if (
                    len(on_disk.snapshots) == len(self.snapshots)
                    and on_disk.current_snapshot_id() == self.current_snapshot_id()
                ):
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
                    self.snapshots.append(snap)
                    try:
                        self._write(expected_len=len(self.snapshots))
                    except BaseException:
                        # the head must stay what is on disk
                        self.snapshots.pop()
                        raise
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
            self.schema_json = on_disk.schema_json
            self.partition_by = on_disk.partition_by
            self.properties = on_disk.properties
            self.snapshots = on_disk.snapshots

    def _write(self, expected_len: int | None) -> None:
        payload = {
            # v2: partition dicts are stored percent-DECODED (keys and
            # values); see the load() migration note
            "format_version": 2,
            "schema": self.schema_json,
            "partition_by": self.partition_by,
            "properties": self.properties,
            "snapshots": [s.to_json() for s in self.snapshots],
            "refs": self.refs,
        }
        fd, tmp = tempfile.mkstemp(prefix=".snaplog.", dir=self.table_dir)
        try:
            with os.fdopen(fd, "w") as f:
                json.dump(payload, f)
            os.replace(tmp, self.path)  # atomic on POSIX
        except BaseException:
            if os.path.exists(tmp):
                os.unlink(tmp)
            raise
