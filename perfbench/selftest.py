#!/usr/bin/env python3
"""Self-test of the benchmark.

    python3 perfbench/selftest.py

Runs every workload of BENCHMARK.json for one second (the smallest window:
two latency samples), untraced and traced, each in a fresh process, and fails unless every run exits 0,
passes its output checks and prints every metric BENCHMARK.json names
with its unit.  It also fails if a per-layer metric is measured (non-zero)
on no workload, which catches a metric name the code does not produce.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    errors: list[str] = []
    measured: set[str] = set()
    for wl in (w["name"] for w in bench["workloads"]):
        for trace in (0, 1):
            out = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl, "--seed", "7",
                 "--seconds", "1", "--trace", str(trace)],
                cwd=ROOT, capture_output=True, text=True,
            )
            tag = f"{wl} trace={trace}"
            if out.returncode != 0:
                errors.append(f"{tag}: exit {out.returncode}: {out.stderr[-1500:]}")
                continue
            res = json.loads(out.stdout.strip().splitlines()[-1])
            if sorted(res) != ["attempted", "correct", "failed", "metrics"]:
                errors.append(f"{tag}: result keys {sorted(res)}")
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                record = json.loads(out.stdout.strip().splitlines()[-2])["record"]
                errors.append(f"{tag}: checks failed: {record['problems']}")
            want = bench["per_layer"] if trace else bench["end_to_end"]
            for m in want:
                got = res["metrics"].get(m["name"])
                if got is None or got["unit"] != m["unit"]:
                    errors.append(f"{tag}: metric {m['name']} missing or unit differs: {got}")
                elif got["value"] != 0:
                    measured.add(m["name"])
                elif not trace:
                    errors.append(f"{tag}: end-to-end metric {m['name']} reads 0")
            print(f"ok {tag}" if not errors else f"checked {tag}", flush=True)
    # a per-layer figure can legitimately read 0 (no spill, no shuffle);
    # these must be non-zero somewhere
    may_be_zero = {"spark.spill_mb", "spark.shuffle_read_mb", "spark.shuffle_write_mb",
                   "host.cpu_steal_share", "trace.overhead_s", "query.build_jobs"}
    for m in bench["per_layer"]:
        if m["name"] not in measured and m["name"] not in may_be_zero:
            errors.append(f"per-layer metric {m['name']} reads 0 on every workload")
    for e in errors:
        print("FAIL", e)
    print("selftest", "failed" if errors else "passed")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
