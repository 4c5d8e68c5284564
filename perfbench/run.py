"""Lakehouse benchmark: one workload per invocation, one closed-loop client.

    python3 perfbench/run.py --workload lifecycle --seed 1 --seconds 6 --trace 0

Run from the root of a checkout. Starts a Spark session on
``local[<cores>]``, then five times starts a fresh session and generates
the workload's inputs from ``--seed`` (to time set-up), runs one untimed
warm-up round that also checks every output, then repeats measured
rounds, each call into the library issued only after the previous one
returned, until ``--seconds`` have passed. Every file it writes lives under ``.perfbench_work/`` in the
checkout and is removed on exit.

With ``--trace 1`` the first half of the measured time runs untraced and
the second half with ``tracing.Tracer`` wrapping the library's layer entry
points and ``tracing.SparkHarvester`` reading each operation's Spark jobs;
the per-layer metrics come from the traced half, and the ratio of the two
halves' round times is the tracing overhead.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``; the line before it reports the
workload figures by name with units and sample counts.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from collections import defaultdict

import tracing
from tracing import pct

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "pyiceberg_lakehouse_spark"
SETUP_REPEATS = 5

WORKLOADS = ("lifecycle", "commit_stream")
# Printed by untraced runs; bounded in BENCHMARK.json.
END_TO_END = ("write_amp", "space_amp", "setup_s")
# Scale factor of the lifecycle table (lineitem has ~6M x sf rows, as in
# the testdata corpus): 6k rows, so that a round's time is the library's
# per-operation cost and a run holds more than one round.
LIFECYCLE_SF = 0.001


def _proc_table() -> tuple[dict[int, list[int]], dict[int, int]]:
    """Children of every live process and each one's CPU ticks (user +
    system, reaped children included), from /proc."""
    parent, ticks = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while listing
            continue
        parent[int(name)] = int(fields[1])
        ticks[int(name)] = sum(int(x) for x in fields[11:15])
    children: dict[int, list[int]] = defaultdict(list)
    for pid, ppid in parent.items():
        children[ppid].append(pid)
    return children, ticks


def descendants(root: int) -> list[int]:
    """Process ``root`` and every live process under it."""
    children, _ = _proc_table()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) used so far by process ``root`` and all
    its live descendants (the Spark JVM, whose threads are the executors,
    and its Python workers), reaped children included."""
    children, ticks = _proc_table()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo.extend(children.get(pid, []))
    return total / os.sysconf("SC_CLK_TCK")


def _alive(pid: int) -> bool:
    """Whether ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_jvm(grace_s: float = 30.0) -> None:
    """End the Spark JVM this process launched and every process under it
    (Python workers), and wait until each has ended. ``SparkSession.stop``
    leaves the JVM running; it exits on its own only after this process
    does, so a caller could otherwise see it outlive the run."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    under = [pid for pid in descendants(proc.pid) if pid != proc.pid]
    SparkContext._gateway = None
    SparkContext._jvm = None
    try:
        gateway.close()
    except Exception:
        pass
    # The JVM exits when its standard input closes.
    try:
        proc.stdin.close()
    except (AttributeError, OSError):
        pass
    try:
        proc.wait(timeout=grace_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    # Orphans of the JVM are no longer this process's children: signal
    # them and poll until they are gone.
    deadline = time.monotonic() + grace_s
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in under:
            if _alive(pid):
                try:
                    os.kill(pid, sig)
                except OSError:
                    pass
        while any(_alive(pid) for pid in under) and time.monotonic() < deadline:
            time.sleep(0.05)
        deadline = time.monotonic() + grace_s


def _vm_hwm_kb(pid: int) -> int:
    """Peak resident set size of a process, from /proc (0 if unreadable)."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class Run:
    """Issues the workload's library calls one after another and records
    their latencies, per-round gauges and untimed correctness checks."""

    def __init__(self) -> None:
        self.lat: dict[str, list[float]] = defaultdict(list)
        self.gauges: dict[str, list[float]] = defaultdict(list)
        self.rows: dict[str, int] = {}
        self.notes: dict[str, float] = defaultdict(float)
        self.checks: list[tuple[str, bool, str]] = []
        self.attempted = 0
        self.failed = 0
        self.measuring = False
        self.harvester = None
        self.spark: dict[str, float] = defaultdict(float)
        self.driver_s: dict[str, list[float]] = defaultdict(list)
        self.plan_s: list[float] = []
        self.scan_nodes: list[int] = []
        self.scan_files: list[int] = []

    def op(self, kind: str, fn, timed: bool = True, rows: int | None = None, scan: bool = False):
        """Call ``fn`` once; a timed call's latency is recorded under
        ``kind`` while measuring. ``scan`` marks a call that returns the
        DataFrame it read, inspected afterwards in traced runs."""
        self.attempted += 1
        t0 = time.time()
        p0 = time.perf_counter()
        try:
            result = fn()
        except Exception:
            self.failed += 1
            raise
        dt = time.perf_counter() - p0
        if self.measuring and timed:
            self.lat[kind].append(dt)
            if rows is not None:
                self.rows[kind] = rows
        if self.harvester is not None:
            self._harvest(kind, t0, dt, result if scan else None)
        return result

    def scan(self, kind: str, make):
        """Plan a read with ``make()`` and run it to the end without
        collecting, timed together as one operation; returns the plan."""
        plan_s = []

        def go():
            p0 = time.perf_counter()
            df = make()
            plan_s.append(time.perf_counter() - p0)
            df.write.format("noop").mode("overwrite").save()
            return df

        df = self.op(kind, go, scan=True)
        if self.harvester is not None:
            self.plan_s.append(plan_s[0])
        return df

    def _harvest(self, kind: str, t0: float, dt: float, plan) -> None:
        if plan is not None:
            self.scan_nodes.append(tracing.file_scan_nodes(plan))
            self.scan_files.append(len(plan.inputFiles()))
        m = self.harvester.harvest(t0, time.time())
        job_s = m.pop("spark.job_s")
        for k, v in m.items():
            self.spark[k] += v
        self.driver_s[kind].append(max(0.0, dt - job_s))

    def note(self, name: str, value: float) -> None:
        """Add to a counter the traced layer metrics divide by."""
        if self.measuring:
            self.notes[name] += value

    def gauge(self, name: str, value: float) -> None:
        if self.measuring:
            self.gauges[name].append(value)

    def check_value(self, fn):
        """Untimed call made only to check an output."""
        t0 = time.time()
        value = fn()
        if self.harvester is not None:
            self.harvester.harvest(t0, time.time())
        return value

    def check(self, name: str, fn, expect) -> None:
        self.attempted += 1
        try:
            got = self.check_value(fn)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            got = "raised"
        ok = got == expect
        self.failed += not ok
        self.checks.append((name, ok, f"{got} vs {expect}"))

    def record(self, checks: list[tuple[str, bool, str]]) -> None:
        for name, ok, detail in checks:
            self.attempted += 1
            self.failed += not ok
            self.checks.append((name, ok, detail))


def rounds_for(workload, run: Run, seconds: float, first: int):
    """Run measured rounds until ``seconds`` have passed (at least one);
    returns each completed round's wall time and CPU time, and the next
    round number."""
    times, cpus, r = [], [], first
    deadline = time.perf_counter() + seconds
    run.measuring = True
    while True:
        t0 = time.perf_counter()
        c0 = tree_cpu_s(os.getpid())
        try:
            workload.round(run, r)
            times.append(time.perf_counter() - t0)
            cpus.append(tree_cpu_s(os.getpid()) - c0)
        except Exception:
            # the rest of the round is not attempted; the round itself
            # counts as one failed attempt (its failing call, if any, too)
            traceback.print_exc(file=sys.stderr)
            run.failed += 1
            run.attempted += 1
        r += 1
        if time.perf_counter() >= deadline:
            break
    run.measuring = False
    return times, cpus, r


def workload_report(
    run: Run, round_times: list[float], round_cpus: list[float]
) -> dict[str, tuple[float, str, int]]:
    """The workload figures: name -> (value, unit, sample count)."""
    lat = run.lat

    def p50(kind: str, scale: float) -> tuple[float, int]:
        return pct(lat.get(kind, []), 50) * scale, len(lat.get(kind, []))

    out: dict[str, tuple[float, str, int]] = {}
    out["wall_s"] = (sum(round_times), "s", len(round_times))
    out["round_s"] = (pct(round_times, 50), "s", len(round_times))
    out["round_cpu_s"] = (pct(round_cpus, 50), "s", len(round_cpus))
    meds = [pct(xs, 50) * 1000.0 for xs in lat.values() if xs]
    out["op_geomean_ms"] = (
        math.exp(sum(math.log(m) for m in meds) / len(meds)) if meds else 0.0,
        "ms",
        sum(len(xs) for xs in lat.values()),
    )
    out["failed_op_ratio"] = (run.failed / max(1, run.attempted), "ratio", run.attempted)
    ingest, n = p50("ingest", 1.0)
    out["ingest_rows_per_s"] = (run.rows.get("ingest", 0) / ingest if ingest else 0.0, "rows/s", n)
    for name, kind, unit, q in (
        ("append_p50_ms", "append", "ms", 50),
        ("register_p50_ms", "register", "ms", 50),
        ("register_p90_ms", "register", "ms", 90),
        ("upsert_p50_s", "upsert", "s", 50),
        ("cdc_apply_p50_s", "cdc_apply", "s", 50),
        ("delete_p50_s", "delete", "s", 50),
        ("scan_p50_ms", "scan", "ms", 50),
        ("time_travel_p50_ms", "time_travel", "ms", 50),
    ):
        xs = lat.get(kind, [])
        out[name] = (pct(xs, q) * (1000.0 if unit == "ms" else 1.0), unit, len(xs))
    for g, unit in (("write_amp", "ratio"), ("space_amp", "ratio"), ("warehouse_mb", "MB")):
        xs = run.gauges.get(g, [])
        out[g] = (pct(xs, 50), unit, len(xs))
    return out


def make_workload(name: str, work: str, seed: int):
    import workloads

    if name == "lifecycle":
        return workloads.Lifecycle(work, seed, LIFECYCLE_SF)
    return workloads.CommitStream(work, seed)


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # The library under test is the package beside this directory; refuse
    # to run (and print no result) without it.
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")) or not os.path.isfile(
        os.path.join(ROOT, "tools", "verify_local.py")
    ):
        print(f"perfbench: no {PACKAGE} package beside {HERE}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # Every temporary file of this process, its Python workers and the JVM
    # stays inside the checkout.
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    sys.path[:0] = [HERE, ROOT]
    # A SIGTERM unwinds through the clean-up below like any other exit.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        return measure(args, work)
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


def measure(args, work: str) -> int:
    from pyiceberg_lakehouse_spark import registry
    from pyiceberg_lakehouse_spark.session import get_spark

    cores = os.cpu_count() or 1

    def start():
        spark = get_spark(
            app_name="perfbench",
            master=f"local[{cores}]",
            extra_conf={
                "spark.local.dir": os.path.join(work, "tmp"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
                "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        spark.range(1).count()
        return spark

    # The first start launches the JVM, once per process (session.start_s).
    # Set-up is then repeated: a fresh Spark session in that JVM and the
    # seeded inputs; setup_s is the median.
    t0 = time.perf_counter()
    spark = start()
    start_s = time.perf_counter() - t0
    try:
        registry.load_all()
        workload = make_workload(args.workload, work, args.seed)
        setups, sizes = [], {}
        for _ in range(SETUP_REPEATS):
            spark.stop()
            d = os.path.join(work, "inputs")
            shutil.rmtree(d, ignore_errors=True)
            t0 = time.perf_counter()
            spark = start()
            sizes = workload.setup(d)
            setups.append(time.perf_counter() - t0)
        setup_s = statistics.median(setups)
        workload.spark = spark

        run = Run()
        t0 = time.perf_counter()
        try:
            workload.round(run, 0)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            run.attempted += 1
            run.failed += 1
        run.record(workload.checks())
        warmup_s = time.perf_counter() - t0

        layers = None
        if args.trace:
            half = args.seconds / 2
            plain, cpus, nxt = rounds_for(workload, run, half, 1)
            tracer = tracing.Tracer()
            tracer.install()
            traced_run = Run()
            traced_run.harvester = tracing.SparkHarvester(spark)
            traced, _, _ = rounds_for(workload, traced_run, half, nxt)
            run.attempted += traced_run.attempted
            run.failed += traced_run.failed
            layers = tracing.layer_metrics(tracer, traced_run, len(traced))
            layers["session.start_s"] = start_s
            layers["session.warmup_s"] = warmup_s
            layers["trace.untraced_round_s"] = pct(plain, 50)
            layers["trace.round_s"] = pct(traced, 50)
            layers["trace.overhead_ratio"] = (
                layers["trace.round_s"] / layers["trace.untraced_round_s"] if plain and traced else 0.0
            )
            round_times = plain
        else:
            round_times, cpus, _ = rounds_for(workload, run, args.seconds, 1)

        rss_kb = _vm_hwm_kb(os.getpid())
        gateway = spark.sparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            rss_kb += _vm_hwm_kb(proc.pid)
    finally:
        spark.stop()

    report = workload_report(run, round_times, cpus)
    report["setup_s"] = (setup_s, "s", SETUP_REPEATS)
    report["peak_rss_mb"] = (rss_kb / 1024.0, "MB", 1)
    for name, ok, detail in run.checks:
        if not ok:
            print(f"perfbench: check failed: {name}: {detail}", file=sys.stderr)
    correct = run.failed == 0 and bool(round_times) and all(ok for _, ok, _ in run.checks)

    print(
        json.dumps(
            {
                "workload": args.workload,
                "seed": args.seed,
                "cores": cores,
                "inputs": sizes,
                "rounds": len(round_times),
                "checks": len(run.checks),
                "report": {k: {"value": v, "unit": u, "n": n} for k, (v, u, n) in report.items()},
            }
        )
    )
    if layers is None:
        metrics = {k: report[k][:2] for k in END_TO_END}
    else:
        merged = {k: v for k, (v, _, _) in report.items()} | layers
        metrics = {k: (merged[k], u) for k, u in tracing.UNITS.items()}
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
