"""Ingest workload: landed envelope files drained through
``streaming.start_pipeline(available_now=True, max_files_per_trigger=1)``.

One operation is a drain: one streaming query, with a fresh lake and
checkpoint, that takes its landing dir's files one per trigger, back to
back (closed loop: the next batch starts when the previous one commits).
Its batches are timed by the engine (``durationMs.triggerExecution`` from
a ``ProgressLogger`` attached to the session); its lake is read back with
pyarrow after the timed window and compared with what the generator
planted in all of its files.
"""

from __future__ import annotations

import glob
import os
import random
import statistics
import time
from dataclasses import dataclass

import pyarrow.dataset as pads
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.operators.alerts import alert_rows
from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.operators.classify import (
    classify_records,
)
from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.operators.geocode import build_geo_dim
from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.schemas import (
    CLASS_SOH,
    ENVELOPE_SCHEMA,
)
from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.streaming import start_pipeline
from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.streaming.listener import (
    ProgressLogger,
)
from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.streaming.pipeline import (
    build_stage_rows,
)

from gen import Planted, write_envelopes
from sparkstats import JobStats, group_job_ids, job_stats

RAW_CLASSES = ("soh", "sensor", "unknown")
OPERATOR_BATCH_RECORDS = 40_000


@dataclass
class Drain:
    lake: str
    planted: Planted
    files: int
    records: int
    wall_s: float
    run_id: str
    batches: list[dict]            # ProgressLogger records of this drain
    latencies_s: list[float]       # triggerExecution per batch


class IngestWorkload:
    """Files of ``records`` envelopes: ``warm_files`` in the untimed warm-up
    drain, ``samples`` in the timed window's drain.  A traced window holds
    four drains of half as many files each (untraced, traced, traced,
    untraced), so both halves sit at the same point of the warm-up curve."""

    kind = "ingest"

    def __init__(self, work: str, samples: int, trace: bool, records: int,
                 warm_files: int) -> None:
        self.work = work
        self.records, self.warm_files = records, warm_files
        self.n_ops, self.files = (4, max(2, samples // 2)) if trace else (1, samples)
        self.landings: list[tuple[str, Planted]] = []   # one per drain, in drain order
        self.geo_dim = None
        self.logger: ProgressLogger | None = None
        self._drains = 0

    # -- inputs and set-up ---------------------------------------------------
    def generate(self, seed: int) -> None:
        """The warm-up drain's files, then each window drain's, in their own
        landing dirs; packet ids are unique across all of them."""
        rng = random.Random(seed)
        pid = 1
        for i, n_files in enumerate([self.warm_files] + [self.files] * self.n_ops):
            landing = os.path.join(self.work, f"landing-{i:03d}")
            planted = Planted()
            for f in range(n_files):
                planted += write_envelopes(
                    os.path.join(landing, f"batch-{f:05d}.json"), rng, self.records, pid)
                pid += self.records
            self.landings.append((landing, planted))

    def setup_call(self, spark: SparkSession, layer_s: dict[str, list[float]]) -> None:
        t = time.perf_counter()
        self.geo_dim = build_geo_dim(spark)
        layer_s.setdefault("operators.build_geo_dim_s", []).append(time.perf_counter() - t)

    def attach(self, spark: SparkSession) -> None:
        self.logger = ProgressLogger()
        spark.streams.addListener(self.logger)

    # -- one operation -------------------------------------------------------
    def warm_up(self, spark: SparkSession, tracer) -> tuple[int, int, list[str]]:
        """The untimed warm-up drain; returns (batches, batches with wrong
        output, problems)."""
        op = self.run_once(spark, tracer)
        found = self.check(op)
        return op.files, op.files if found else 0, found

    def run_once(self, spark: SparkSession, tracer, traced: bool = False) -> Drain:
        """The next landing dir, drained by one query; its jobs carry the
        query's run id as job group either way."""
        landing, planted = self.landings[self._drains]
        self._drains += 1
        lake = os.path.join(self.work, f"lake-{self._drains:03d}")
        ckpt = os.path.join(self.work, f"ckpt-{self._drains:03d}")
        with tracer.span("ingest.drain"):
            t = time.perf_counter()
            with tracer.span("streaming.start_pipeline"):
                q = start_pipeline(
                    spark, landing, lake, ckpt, available_now=True,
                    max_files_per_trigger=1, geo_dim=self.geo_dim,
                )
            with tracer.span("streaming.awaitTermination"):
                q.awaitTermination()
            wall = time.perf_counter() - t
        batches = self._progress(str(q.id), len(q.recentProgress))
        return Drain(
            lake=lake, planted=planted,
            files=len(os.listdir(landing)),
            records=sum(r["num_input_rows"] for r in batches), wall_s=wall,
            run_id=str(q.runId),
            batches=batches,
            latencies_s=[b["duration_ms"]["triggerExecution"] / 1e3 for b in batches],
        )

    def _progress(self, query_id: str, expected: int) -> list[dict]:
        """This drain's progress records; the listener bus delivers them
        asynchronously, so wait (bounded) until all have arrived."""
        deadline = time.monotonic() + 10.0
        while True:
            got = [p for p in self.logger.progress if p["id"] == query_id]
            if len(got) >= expected or time.monotonic() > deadline:
                return got
            time.sleep(0.01)

    @staticmethod
    def work_units(op: Drain) -> int:
        """Records landed, the unit of ``throughput_per_s``."""
        return op.records

    @staticmethod
    def attempts(op: Drain) -> int:
        """Batches: a drain whose lake is wrong fails all of them."""
        return op.files

    # -- output check (outside the timed region) ----------------------------
    def check(self, op: Drain) -> list[str]:
        got = read_lake(op.lake)
        p = op.planted
        problems = []
        if op.records != p.records:
            problems.append(f"drain read {op.records} records, {p.records} landed")
        pids = got["stage_packetids"]
        if len(pids) != p.stage:
            problems.append(f"stage rows {len(pids)} != planted {p.stage}")
        dup = len(pids) - len(set(pids))
        lost = len(p.staged_packetids - set(pids))
        extra = len(set(pids) - p.staged_packetids)
        if dup or lost or extra:
            problems.append(f"packetid duplicated {dup}, lost {lost}, unexpected {extra}")
        if got["event_days"] != p.event_days:
            problems.append(f"event-day partitions {sorted(got['event_days'])} != {sorted(p.event_days)}")
        for sink, want in [("error", p.error), ("alerts", p.alerts)] + [
            (f"raw_{c}", p.raw[c]) for c in RAW_CLASSES
        ]:
            if got["rows"][sink] != want:
                problems.append(f"{sink} rows {got['rows'][sink]} != planted {want}")
        if len(op.batches) != op.files:
            problems.append(f"{len(op.batches)} batches, {op.files} expected (one per file)")
        return problems

    # -- per-layer figures (traced window) -----------------------------------
    def per_layer(self, spark: SparkSession, ops: list[Drain],
                  cpus: int) -> tuple[dict[str, float], JobStats]:
        batches = [b for op in ops for b in op.batches]
        n_b = len(batches)
        stats = JobStats()
        for op in ops:
            stats += job_stats(spark, group_job_ids(spark, op.run_id))
        trigger_ms = [b["duration_ms"]["triggerExecution"] for b in batches]
        add_ms = [b["duration_ms"].get("addBatch", 0) for b in batches]
        lakes = [read_lake(op.lake) for op in ops]
        files = sum(lk["part_files"] for lk in lakes)
        nbytes = sum(lk["part_bytes"] for lk in lakes)
        records = sum(op.records for op in ops)
        m = {
            "streaming.batches": n_b,
            "streaming.rows_per_batch": sum(b["num_input_rows"] for b in batches) / n_b,
            "streaming.add_batch_ms_p50": statistics.median(add_ms),
            "streaming.commit_ms_p50": statistics.median(t - a for t, a in zip(trigger_ms, add_ms)),
            "streaming.jobs_per_batch": stats.jobs / n_b,
            "streaming.stages_per_batch": stats.stages / n_b,
            "streaming.tasks_per_batch": stats.tasks / n_b,
            "streaming.executor_busy_ratio": stats.executor_run_ms / (sum(trigger_ms) * cpus),
            "sinks.files_written": files / len(ops),
            "sinks.output_mb": nbytes / 1e6 / len(ops),
            "sinks.files_per_batch": files / n_b,
            "sinks.lake_bytes_per_record": nbytes / records,
        }
        for sink, rows in lakes[-1]["rows"].items():
            m[f"sinks.rows.{sink}"] = rows
        m["sinks.rows.stage"] = len(lakes[-1]["stage_packetids"])
        return m, stats

    def operator_times(self, spark: SparkSession, seed: int, reps: int = 3) -> dict[str, float]:
        """Each operator forced alone (noop sink) on one cached batch of
        OPERATOR_BATCH_RECORDS backlog envelopes; its input is cached, so
        the figure is the operator's own per-record work.  Median of
        ``reps``."""
        backlog = os.path.join(self.work, "backlog", "batch-00000.json")
        write_envelopes(backlog, random.Random(seed), OPERATOR_BATCH_RECORDS)
        batch = spark.read.schema(ENVELOPE_SCHEMA).json(backlog).cache()
        batch.count()
        classified = classify_records(batch).cache()
        classified.count()
        soh = classified.filter(F.col("msg_class") == CLASS_SOH)
        stage = build_stage_rows(soh, self.geo_dim)[0].cache()
        stage.count()
        steps = {
            "operators.classify_s": lambda: classify_records(batch),
            "operators.stage_rows_s": lambda: build_stage_rows(soh, self.geo_dim)[0],
            "operators.alerts_s": lambda: alert_rows(stage.drop("year", "month", "day")),
        }
        out = {}
        for name, make in steps.items():
            times = []
            for _ in range(reps):
                t = time.perf_counter()
                make().write.format("noop").mode("overwrite").save()
                times.append(time.perf_counter() - t)
            out[name] = statistics.median(times)
        for df in (stage, classified, batch):
            df.unpersist()
        return out


def _part_files(root: str, suffix: str) -> list[str]:
    return glob.glob(os.path.join(root, "**", f"part-*{suffix}"), recursive=True)


def _json_rows(root: str) -> int:
    n = 0
    for path in _part_files(root, ".json"):
        with open(path, "rb") as fh:
            n += sum(1 for _ in fh)
    return n


def read_lake(lake: str) -> dict:
    """Row counts, staged packetids, event-day partitions and part-file
    sizes of one lake, read with pyarrow (no Spark)."""
    pids: list[int] = []
    days: set[tuple[int, int, int]] = set()
    if os.path.isdir(os.path.join(lake, "stage")):
        stage = pads.dataset(os.path.join(lake, "stage"), format="parquet", partitioning="hive")
        tbl = stage.to_table(columns=["packetid", "year", "month", "day"])
        pids = tbl.column("packetid").to_pylist()
        days = set(zip(*(tbl.column(c).to_pylist() for c in ("year", "month", "day"))))
    alerts = os.path.join(lake, "alerts")
    rows = {
        "error": _json_rows(os.path.join(lake, "error")),
        "alerts": pads.dataset(alerts, format="parquet").count_rows() if os.path.isdir(alerts) else 0,
    }
    for c in RAW_CLASSES:
        rows[f"raw_{c}"] = _json_rows(os.path.join(lake, "raw", c))
    parts = _part_files(lake, "")
    return {
        "stage_packetids": pids,
        "event_days": days,
        "rows": rows,
        "part_files": len(parts),
        "part_bytes": sum(os.path.getsize(p) for p in parts),
    }
