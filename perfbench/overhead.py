#!/usr/bin/env python3
"""Tracing overhead of one workload and seed.

    python3 perfbench/overhead.py --workload <name> --seed <n> [--seconds <s>]

Runs the benchmark untraced, then traced, each in a fresh process, and
prints ``trace.overhead_s``: the traced run's median latency minus the
untraced run's.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def _metrics(args, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
         "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(trace)],
        cwd=os.path.dirname(HERE), capture_output=True, text=True, check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])["metrics"]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, help="default: run_seconds of BENCHMARK.json")
    args = ap.parse_args()
    if args.seconds is None:
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
            args.seconds = json.load(fh)["run_seconds"]
    untraced = _metrics(args, 0)["latency_p50_s"]["value"]
    traced = _metrics(args, 1)["trace.latency_p50_s"]["value"]
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "latency_p50_s": untraced, "trace.latency_p50_s": traced,
                      "trace.overhead_s": traced - untraced}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
