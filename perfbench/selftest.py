"""Self-test of the benchmark harness: runs every workload briefly, untraced
and traced, and checks that each run is correct, prints every metric
``BENCHMARK.json`` names and attributes every Spark job to an operation.

    python3 perfbench/selftest.py

Run from the root of a checkout; exits non-zero on the first failure.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def result(workload: str, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", str(trace)],
        check=True, capture_output=True, text=True, timeout=600,
    ).stdout
    return json.loads(out.strip().splitlines()[-1])


def main() -> int:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems = []
    for w in (w["name"] for w in spec["workloads"]):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            before = len(problems)
            r = result(w, trace)
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in r["metrics"].items()}
            if got != want:
                problems.append(f"{w} trace={trace}: metrics differ from {key}: "
                                f"{sorted(set(got) ^ set(want))}")
            if not r["correct"] or r["failed"]:
                problems.append(f"{w} trace={trace}: {r['failed']} failed of {r['attempted']}")
            if trace and r["metrics"]["spark.unattributed_jobs"]["value"] != 0:
                problems.append(f"{w}: unattributed Spark jobs")
            print(f"{w} trace={trace}: {'ok' if len(problems) == before else 'FAIL'}", flush=True)
    for p in problems:
        print(p, file=sys.stderr)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
