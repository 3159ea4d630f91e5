#!/usr/bin/env python3
"""Repository benchmark: ingest and query workloads of the NMEA lake engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  Inputs are generated from ``--seed`` into
``.perfbench_work/`` (the program sees only those files), the session is
set up several times, untimed operations warm the engine and check its
output, then the timed window runs back to back (closed loop): one drain
of a fixed number of files, one micro-batch each, on ingest; a fixed
number of passes on query, sized to take ``--seconds`` on a 4-core host.
Every operation's output is checked after the timed window.

The last stdout line is the result: ``correct``, ``attempted``,
``failed`` and ``metrics`` -- the end-to-end metrics of BENCHMARK.json
with ``--trace 0``, its per-layer metrics with ``--trace 1``.  The line
before it is the run's record: sample counts and host gauges (one-task
job dispatch before and after the timed window, CPU steal share).

In a traced run the window has an untraced and a traced half, in the
order untraced, traced, traced, untraced, ... (query passes; on ingest,
four drains of half as many files each).  The traced operations carry
job groups per key and spans around every call into the package; the
per-layer figures come from those, and ``trace.overhead_s`` is their
median latency minus that of the untraced half.  A per-layer metric whose layer does not
run in the workload reads 0.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import sparkstats
from spans import NoTracer, Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "amazon_s3_datalake_nmea0183_real_time_ingestion_spark"

SETUPS = 5  # session set-ups per run; setup_s is their median

# graph keys bound by per-job fixed cost (10-37 jobs each, most run while
# the plan is built); x_dedup_best_guarded and x_curate_corpus share that
# shape but their cold first pass alone takes ~15 s, past the run budget
ITERATIVE_KEYS = ["x_kcore", "x_pagerank", "x_lpa"]
# lineitem at the testdata's sf0.001 row counts (TESTDATA.md): 6,000 lines over
# 1,500 orders, 200 parts and 10 suppliers
LINEITEM_SF0001 = dict(lines=6000, orders=1500, parts=200, suppliers=10)

# name -> (kind, parameters, seconds per latency sample on the reference
# host: 4 cores, local[4]).  The timed window holds round(--seconds /
# sample_s) samples: micro-batches of one drain on ingest, passes on query.
WORKLOADS = {
    "ingest_trickle": ("ingest", dict(records=100, warm_files=5), 1.6),
    "query_iterative": ("query", dict(keys=ITERATIVE_KEYS, lineitem=LINEITEM_SF0001,
                                      warm_ops=4), 3.5),
}


def _launch_env(work: str, cpus: int) -> None:
    """Spark settings for this run, through the variables ``session.get_spark``
    and the JVM launcher read: scratch, warehouse and temp files stay in the
    work dir, and the console progress bar is off."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": "4g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_GRAFT_CONF": ";".join([
            "spark.ui.showConsoleProgress=false",
            f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            # keep every job and stage of a run in the status store
            "spark.ui.retainedJobs=100000",
            "spark.ui.retainedStages=100000",
        ]),
    })


def _make(name: str, seconds: float, trace: bool, work: str):
    """The workload, sized so that its window holds about ``seconds`` of
    latency samples on the reference host.  A fixed count, not a deadline:
    every run times the same work, wherever it falls on the engine's
    warm-up curve."""
    kind, params, sample_s = WORKLOADS[name]
    samples = max(2, round(seconds / sample_s))
    if kind == "ingest":
        from ingest import IngestWorkload
        return IngestWorkload(work, samples, trace, **params)
    from query import QueryWorkload
    return QueryWorkload(work, samples, trace, ROOT, **params)


def _window(wl, spark, tracer, trace: bool) -> tuple[list, list]:
    """The workload's operations back to back (closed loop, one client);
    returns (untraced, traced) operations.  When tracing, operations go
    untraced, traced, traced, untraced, ..., so both halves sit at the
    same point of the warm-up curve."""
    untraced, traced = [], []
    for i in range(wl.n_ops):
        if trace and i % 4 in (1, 2):
            traced.append(wl.run_once(spark, tracer, True))
        else:
            untraced.append(wl.run_once(spark, NoTracer(), False))
    return untraced, traced


def _latencies(ops: list) -> list[float]:
    return [x for op in ops for x in op.latencies_s]


def _shutdown(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(args, work: str) -> tuple[dict, dict, dict]:
    cpus = min(4, len(os.sched_getaffinity(0)))
    _launch_env(work, cpus)
    sys.path.insert(0, ROOT)
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.session import get_spark

    phases: dict[str, float] = {}
    t_phase = time.perf_counter()

    def phase(name: str) -> None:
        nonlocal t_phase
        now = time.perf_counter()
        phases[name] = now - t_phase
        t_phase = now

    wl = _make(args.workload, args.seconds, bool(args.trace), work)
    wl.generate(args.seed)
    phase("generate")

    layer_s: dict[str, list[float]] = {"session.get_spark_s": []}
    setups = []
    spark = None
    try:
        # -- set-up: get_spark + the layer's own set-up call, SETUPS times --
        for _ in range(SETUPS):
            if spark is not None:
                spark.stop()
            t = time.perf_counter()
            spark = get_spark("perfbench")
            layer_s["session.get_spark_s"].append(time.perf_counter() - t)
            wl.setup_call(spark, layer_s)
            setups.append(time.perf_counter() - t)
        spark.sparkContext.setLogLevel("ERROR")
        wl.attach(spark)
        phase("setup")

        # -- warm-up: untimed operations whose output is checked -------------
        t = time.perf_counter()
        attempted, failed, problems = wl.warm_up(spark, NoTracer())
        warmup_s = time.perf_counter() - t
        phase("warmup")

        # -- timed window ----------------------------------------------------
        dispatch_pre = sparkstats.dispatch_ms(spark)
        cpu0 = sparkstats.cpu_times()
        tracer = Tracer()
        ops, traced_ops = _window(wl, spark, tracer, bool(args.trace))
        cpu1 = sparkstats.cpu_times()
        dispatch_post = sparkstats.dispatch_ms(spark)
        phase("window")

        # -- output checks, outside the timed windows -------------------------
        for op in ops + traced_ops:
            found = wl.check(op)
            attempted += wl.attempts(op)
            failed += wl.attempts(op) if found else 0
            problems += found
        phase("checks")

        lat = _latencies(ops)
        e2e = {
            "setup_s": statistics.median(setups),
            "latency_p50_s": statistics.median(lat),
            "throughput_per_s": sum(wl.work_units(op) for op in ops) / sum(op.wall_s for op in ops),
        }
        record = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "cpus": cpus,
            "samples": {"setups": len(setups), "operations": len(ops), "latencies": len(lat),
                        "traced_operations": len(traced_ops)},
            "host": {"job_dispatch_ms_pre": dispatch_pre, "job_dispatch_ms_post": dispatch_post,
                     "cpu_steal_share": sparkstats.steal_share(cpu0, cpu1)},
            "setup_samples_s": setups, "latency_samples_s": lat,
            "problems": problems[:20], "phases_s": phases,
        }

        layer: dict[str, float] = {}
        if args.trace:
            m, stats = wl.per_layer(spark, traced_ops, cpus)
            layer.update(m)
            n = len(traced_ops)
            traced_lat = statistics.median(_latencies(traced_ops))
            layer.update({
                "session.get_spark_s": statistics.median(layer_s.pop("session.get_spark_s")),
                "session.cold_start_s": setups[0],
                "session.warmup_s": warmup_s,
                "session.job_dispatch_ms_pre": dispatch_pre,
                "session.job_dispatch_ms_post": dispatch_post,
                "host.cpu_steal_share": record["host"]["cpu_steal_share"],
                "spark.executor_busy_ratio": stats.executor_run_ms
                / (sum(op.wall_s for op in traced_ops) * 1e3 * cpus),
                "spark.shuffle_read_mb": stats.shuffle_read_bytes / 1e6 / n,
                "spark.shuffle_write_mb": stats.shuffle_write_bytes / 1e6 / n,
                "spark.spill_mb": stats.spill_bytes / 1e6 / n,
                "sources.input_mb": stats.input_bytes / 1e6 / n,
                "trace.latency_p50_s": traced_lat,
                "trace.overhead_s": traced_lat - e2e["latency_p50_s"],
            })
            layer.update({k: statistics.median(v) for k, v in layer_s.items()})
            if wl.kind == "ingest":
                layer.update(wl.operator_times(spark, args.seed))
            layer["session.jvm_peak_rss_mb"] = sparkstats.jvm_peak_rss_mb(spark)
            tracer.write(os.path.join(os.path.dirname(work),
                                      f"spans-{args.workload}-seed{args.seed}.json"))
        return {"attempted": attempted, "failed": failed}, e2e | layer, record
    finally:
        if spark is not None:
            _shutdown(spark)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    names = bench["per_layer"] if args.trace else bench["end_to_end"]

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        counts, values, record = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    missing = [m["name"] for m in bench["end_to_end"] if m["name"] not in values]
    if missing:
        print(f"perfbench: end-to-end metrics not measured: {missing}", file=sys.stderr)
        return 3
    print(json.dumps({"record": record}))
    print(json.dumps({
        "correct": counts["failed"] == 0,
        "attempted": counts["attempted"],
        "failed": counts["failed"],
        "metrics": {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
                    for m in names},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
