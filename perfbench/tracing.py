"""Traced-run instrumentation: spans around the library's layer boundaries,
installed from the benchmark's own files, plus per-operation Spark job and
stage harvesting from the live status store.

Nothing here is imported by the library. ``Tracer.install()`` replaces the
public entry points of each lakehouse module with timing wrappers for the
rest of the process; untraced rounds run before it is called, so their
timings carry no wrapper cost. ``layer_metrics`` turns the spans, counters
and harvested Spark figures of the traced rounds into the per-layer
metrics, each a per-round figure so runs of different lengths compare.
"""

from __future__ import annotations

import os
import sys
import time
from collections import defaultdict
from typing import Any, Callable

# Stage operation-graph clusters whose names mark Python-worker execution
# (mapInPandas, Arrow/pandas UDFs).
PYTHON_CLUSTERS = ("Pandas", "Python", "ArrowEval")

SPARK = (
    ("spark.jobs", "count"),
    ("spark.tasks", "count"),
    ("spark.task_cpu_s", "s"),
    ("spark.task_run_s", "s"),
    ("spark.python_s", "s"),
    ("spark.gc_s", "s"),
    ("spark.shuffle_write_mb", "MB"),
    ("spark.input_mb", "MB"),
    ("spark.output_mb", "MB"),
    ("spark.spill_mb", "MB"),
    ("spark.failed_tasks", "count"),
)

# Unit of every metric a traced run prints, in print order.
UNITS: dict[str, str] = {
    "round_s": "s",
    "round_cpu_s": "s",
    "op_geomean_ms": "ms",
    "wall_s": "s",
    "failed_op_ratio": "ratio",
    "ingest_rows_per_s": "rows/s",
    "append_p50_ms": "ms",
    "register_p50_ms": "ms",
    "register_p90_ms": "ms",
    "upsert_p50_s": "s",
    "cdc_apply_p50_s": "s",
    "delete_p50_s": "s",
    "scan_p50_ms": "ms",
    "time_travel_p50_ms": "ms",
    "warehouse_mb": "MB",
    "peak_rss_mb": "MB",
    "log.commit_ms.p50": "ms",
    "log.commit_ms.p90": "ms",
    "log.commits": "count",
    "log.load_ms": "ms",
    "log.loads": "count",
    "log.replay_ms": "ms",
    "log.replays": "count",
    "log.bytes": "B",
    "log.bytes_written": "B",
    "table.write_ms": "ms",
    "table.files_written": "count",
    "table.file_kb.mean": "KB",
    "table.small_files": "count",
    "table.scan_plan_ms": "ms",
    "table.scan_exec_ms": "ms",
    "table.scan_file_nodes": "count",
    "table.files_per_scan": "count",
    "stats.prune_ms": "ms",
    "stats.kept_ratio": "ratio",
    "bloom.prune_ms": "ms",
    "bloom.kept_ratio": "ratio",
    "upsert.driver_s": "s",
    "upsert.rows_written_per_changed_row": "ratio",
    "upsert.files_replaced": "count",
    "maintenance.compact_s": "s",
    "maintenance.rewritten_mb": "MB",
    "maintenance.files_before": "count",
    "maintenance.files_after": "count",
    "maintenance.expire_s": "s",
    "catalog.calls": "count",
    "catalog.ms": "ms",
    "iceberg.export_s": "s",
    "iceberg.read_s": "s",
    "iceberg.metadata_kb": "KB",
    **dict(SPARK),
    "spark.driver_s": "s",
    "spark.unattributed_jobs": "count",
    "session.start_s": "s",
    "session.warmup_s": "s",
    "trace.untraced_round_s": "s",
    "trace.round_s": "s",
    "trace.overhead_ratio": "ratio",
}

# Drain operations whose plans are table scans.
SCAN_KINDS = ("scan", "time_travel", "incremental", "iceberg_read")


class Tracer:
    """Per-layer spans and counters, keyed by span name."""

    def __init__(self) -> None:
        self.spans: dict[str, list[float]] = defaultdict(list)
        self.counts: dict[str, float] = defaultdict(float)
        self._stack: list[dict[str, float]] = []

    def wrap(
        self,
        owner: Any,
        attr: str,
        span: str,
        after: Callable[..., None] | None = None,
    ) -> None:
        """Replace ``owner.attr`` (and every module-level alias of the same
        function inside the package) with a timing wrapper recording
        ``span``. ``after(dt, result, args, nested)`` may add counters;
        ``nested`` maps span names to the time spent in them inside this
        call."""
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            frame: dict[str, float] = defaultdict(float)
            tracer._stack.append(frame)
            t0 = time.perf_counter()
            try:
                result = orig(*args, **kwargs)
            finally:
                dt = time.perf_counter() - t0
                tracer._stack.pop()
                for outer in tracer._stack:
                    outer[span] += dt
                tracer.spans[span].append(dt)
            if after is not None:
                after(dt, result, args, frame)
            return result

        wrapper.__wrapped__ = orig
        setattr(owner, attr, wrapper)
        if not isinstance(owner, type):
            for mod in list(sys.modules.values()):
                if (
                    getattr(mod, "__name__", "").startswith("pyiceberg_lakehouse_spark")
                    and mod is not owner
                    and getattr(mod, attr, None) is orig
                ):
                    setattr(mod, attr, wrapper)

    def install(self) -> None:
        """Wrap the public entry points of every lakehouse layer."""
        from pyiceberg_lakehouse_spark.lakehouse import (
            bloom,
            catalog,
            iceberg_export,
            log,
            maintenance,
            stats,
            table,
            upsert,
        )

        c = self.counts

        def after_commit(dt, snap, args, nested):
            size = os.path.getsize(args[0].path)
            c["log.bytes_written"] += size
            c["log.bytes"] = size

        self.wrap(log.SnapshotLog, "commit", "log.commit", after_commit)
        self.wrap(log.SnapshotLog, "load", "log.load")
        self.wrap(log.SnapshotLog, "live_files", "log.replay")
        self.wrap(log.SnapshotLog, "live_deletes", "log.replay")

        def after_write(dt, snap, args, nested):
            c["table.write_s"] += dt - nested.get("log.commit", 0.0)
            for f in snap.added_files:
                size = os.path.getsize(f["path"])
                c["table.files_written"] += 1
                c["table.bytes_written"] += size
                c["table.small_files"] += size < 64 * 1024

        for op in ("append", "overwrite", "replace_partitions"):
            self.wrap(table.LakehouseTable, op, "table.write", after_write)

        def kept(prefix: str, files_arg: int):
            def after(dt, out, args, nested):
                c[prefix + ".files_in"] += len(args[files_arg])
                c[prefix + ".files_kept"] += len(out)

            return after

        self.wrap(stats, "prune_files", "stats.prune", kept("stats", 0))
        self.wrap(bloom, "prune_files_bloom", "bloom.prune", kept("bloom", 1))

        counted: set[int] = set()

        def after_upsert(dt, result, args, nested):
            # apply_changes returns the list of snapshots it committed; one
            # may come from a nested upsert_partitioned call, counted there
            for snap in result if isinstance(result, list) else [result]:
                if snap.snapshot_id in counted:
                    continue
                counted.add(snap.snapshot_id)
                c["upsert.files_replaced"] += len(snap.removed_paths)
                c["upsert.rows_written"] += sum(f.get("rows") or 0 for f in snap.added_files)

        self.wrap(upsert, "upsert_partitioned", "upsert", after_upsert)
        self.wrap(upsert, "apply_changes", "upsert", after_upsert)

        def after_compact(dt, snap, args, nested):
            if snap is None:
                return
            c["maintenance.rewritten_bytes"] += sum(
                os.path.getsize(f["path"]) for f in snap.added_files
            )
            c["maintenance.files_before"] += len(snap.removed_paths)
            c["maintenance.files_after"] += len(snap.added_files)

        self.wrap(maintenance, "compact", "maintenance.compact", after_compact)
        self.wrap(maintenance, "expire_snapshots", "maintenance.expire")

        for name in dir(catalog.SqlCatalog):
            if not name.startswith("_") and callable(getattr(catalog.SqlCatalog, name)):
                self.wrap(catalog.SqlCatalog, name, "catalog")

        def after_export(dt, meta_path, args, nested):
            meta_dir = os.path.dirname(meta_path)
            c["iceberg.metadata_bytes"] += sum(
                os.path.getsize(os.path.join(meta_dir, f)) for f in os.listdir(meta_dir)
            )

        self.wrap(iceberg_export, "export_iceberg_table", "iceberg.export", after_export)


def pct(values: list[float], q: float) -> float:
    """Percentile ``q`` (0-100) with linear interpolation; 0 when empty."""
    if not values:
        return 0.0
    s = sorted(values)
    k = (len(s) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def file_scan_nodes(df) -> int:
    """FileScan nodes in the DataFrame's physical plan."""
    return df._jdf.queryExecution().executedPlan().toString().count("FileScan ")


class SparkHarvester:
    """Attributes Spark jobs to benchmark operations by time window.

    After every operation the caller passes the operation's wall interval;
    the harvester reads every job submitted since the previous harvest
    from the status store (``jobsList`` is newest first), keeps those whose
    submission time falls inside the interval and sums their stages'
    metrics. Jobs outside every interval count as unattributed. Harvesting
    after each operation stays well inside the store's job retention.
    Job tags are not used: they do not follow work into thread pools.
    """

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext._jsc.sc()
        self.store = self.sc.statusStore()
        self.sc.listenerBus().waitUntilEmpty()
        jobs = self.store.jobsList(None)
        self.last_job = jobs.apply(0).jobId() if jobs.size() else -1
        self.unattributed = 0

    def harvest(self, t0: float, t1: float) -> dict[str, float]:
        """Metrics of the jobs submitted in ``[t0, t1]`` (epoch seconds);
        ``spark.job_s`` is the union of their run intervals."""
        self.sc.listenerBus().waitUntilEmpty()
        jobs = self.store.jobsList(None)
        m: dict[str, float] = defaultdict(float)
        intervals = []
        lo, hi = int(t0 * 1000) - 1, int(t1 * 1000) + 1
        newest = self.last_job
        for i in range(jobs.size()):
            job = jobs.apply(i)
            jid = job.jobId()
            if jid <= self.last_job:
                break
            newest = max(newest, jid)
            sub = job.submissionTime()
            start = sub.get().getTime() if sub.isDefined() else lo
            if not lo <= start <= hi:
                self.unattributed += 1
                continue
            done = job.completionTime()
            intervals.append((start, done.get().getTime() if done.isDefined() else hi))
            m["spark.jobs"] += 1
            ids = job.stageIds()
            for k in range(ids.size()):
                self._stage(ids.apply(k), m)
        self.last_job = newest
        m["spark.job_s"] = _union_ms(intervals) / 1000.0
        return m

    def _stage(self, stage_id: int, m: dict[str, float]) -> None:
        try:
            s = self.store.lastStageAttempt(stage_id)
        except Exception:  # py4j wraps NoSuchElementException: stage never ran
            return
        if s.status().toString() == "SKIPPED":
            return
        run_s = s.executorRunTime() / 1e3
        cpu_s = s.executorCpuTime() / 1e9
        gc_s = s.jvmGcTime() / 1e3
        m["spark.tasks"] += s.numCompleteTasks() + s.numFailedTasks()
        m["spark.failed_tasks"] += s.numFailedTasks()
        m["spark.task_run_s"] += run_s
        m["spark.task_cpu_s"] += cpu_s
        m["spark.gc_s"] += gc_s
        m["spark.shuffle_write_mb"] += s.shuffleWriteBytes() / 1e6
        m["spark.input_mb"] += s.inputBytes() / 1e6
        m["spark.output_mb"] += s.outputBytes() / 1e6
        m["spark.spill_mb"] += s.diskBytesSpilled() / 1e6
        if self._runs_python(stage_id):
            # approximate: run time the JVM spent neither on CPU nor in GC
            m["spark.python_s"] += max(0.0, run_s - cpu_s - gc_s)

    def _runs_python(self, stage_id: int) -> bool:
        names = []

        def walk(cluster) -> None:
            names.append(cluster.name())
            kids = cluster.childClusters()
            for i in range(kids.size()):
                walk(kids.apply(i))

        try:
            walk(self.store.operationGraphForStage(stage_id).rootCluster())
        except Exception:  # py4j: graph not retained for this stage
            return False
        return any(p in n for n in names for p in PYTHON_CLUSTERS)


def _union_ms(intervals: list[tuple[int, int]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def layer_metrics(tracer: Tracer, run, rounds: int) -> dict[str, float]:
    """Per-layer metrics of the traced rounds. Counts and busy times are
    per round; ``_ms.pNN`` figures are percentiles over calls."""
    n = max(1, rounds)
    sp, c = tracer.spans, tracer.counts

    def total_ms(span: str) -> float:
        return sum(sp.get(span, [])) * 1000.0 / n

    def ratio(a: float, b: float) -> float:
        return a / b if b else 0.0

    commits = [x * 1000.0 for x in sp.get("log.commit", [])]
    scans = sum(sum(run.lat.get(k, [])) for k in SCAN_KINDS)
    files = c["table.files_written"]
    out: dict[str, float] = {
        "log.commit_ms.p50": pct(commits, 50),
        "log.commit_ms.p90": pct(commits, 90),
        "log.commits": len(commits) / n,
        "log.load_ms": total_ms("log.load"),
        "log.loads": len(sp.get("log.load", [])) / n,
        "log.replay_ms": total_ms("log.replay"),
        "log.replays": len(sp.get("log.replay", [])) / n,
        "log.bytes": c["log.bytes"],
        "log.bytes_written": c["log.bytes_written"] / n,
        "table.write_ms": c["table.write_s"] * 1000.0 / n,
        "table.files_written": files / n,
        "table.file_kb.mean": ratio(c["table.bytes_written"] / 1024.0, files),
        "table.small_files": c["table.small_files"] / n,
        "table.scan_plan_ms": sum(run.plan_s) * 1000.0 / n,
        "table.scan_exec_ms": (scans - sum(run.plan_s)) * 1000.0 / n,
        "table.scan_file_nodes": ratio(sum(run.scan_nodes), len(run.scan_nodes)),
        "table.files_per_scan": ratio(sum(run.scan_files), len(run.scan_files)),
        "stats.prune_ms": total_ms("stats.prune"),
        "stats.kept_ratio": ratio(c["stats.files_kept"], c["stats.files_in"]),
        "bloom.prune_ms": total_ms("bloom.prune"),
        "bloom.kept_ratio": ratio(c["bloom.files_kept"], c["bloom.files_in"]),
        "upsert.driver_s": sum(
            sum(run.driver_s.get(k, [])) for k in ("upsert", "cdc_apply")
        ) / n,
        "upsert.rows_written_per_changed_row": ratio(
            c["upsert.rows_written"], run.notes.get("upsert.changed_rows", 0.0)
        ),
        "upsert.files_replaced": c["upsert.files_replaced"] / n,
        "maintenance.compact_s": sum(sp.get("maintenance.compact", [])) / n,
        "maintenance.rewritten_mb": c["maintenance.rewritten_bytes"] / 1e6 / n,
        "maintenance.files_before": c["maintenance.files_before"] / n,
        "maintenance.files_after": c["maintenance.files_after"] / n,
        "maintenance.expire_s": sum(sp.get("maintenance.expire", [])) / n,
        "catalog.calls": len(sp.get("catalog", [])) / n,
        "catalog.ms": total_ms("catalog"),
        "iceberg.export_s": sum(sp.get("iceberg.export", [])) / n,
        "iceberg.read_s": sum(run.lat.get("iceberg_read", [])) / n,
        "iceberg.metadata_kb": c["iceberg.metadata_bytes"] / 1024.0 / n,
    }
    for name, _ in SPARK:
        out[name] = run.spark.get(name, 0.0) / n
    out["spark.driver_s"] = sum(sum(xs) for xs in run.driver_s.values()) / n
    out["spark.unattributed_jobs"] = run.harvester.unattributed
    return out
