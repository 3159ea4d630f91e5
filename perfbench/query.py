"""Query workload: fixed-order passes over registry keys on a seeded table.

One operation is a pass.  Each key is timed as two calls: building the
plan (``plans.REGISTRY[key].fn``, which may run jobs of its own) and the
noop-sink action.  The first pass of a run is untimed: it collects every
key's rows and compares them with the key's DuckDB oracle by row count,
column names and the order-insensitive hash ``tools/verify_local.py``
uses.
"""

from __future__ import annotations

import importlib
import importlib.util
import os
import statistics
import time
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from gen import write_lineitem
from sparkstats import JobStats, group_job_ids, job_stats

PLANS = "amazon_s3_datalake_nmea0183_real_time_ingestion_spark.plans"


def _verify_local(root: str):
    spec = importlib.util.spec_from_file_location(
        "verify_local", os.path.join(root, "tools", "verify_local.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@dataclass
class Pass:
    wall_s: float
    keys: list[str]
    build_s: dict[str, float] = field(default_factory=dict)
    action_s: dict[str, float] = field(default_factory=dict)
    groups: dict[str, str] = field(default_factory=dict)      # key -> job group (traced)
    build_jobs: dict[str, int] = field(default_factory=dict)  # key -> jobs run while building

    @property
    def latencies_s(self) -> list[float]:
        return [self.wall_s]


class QueryWorkload:
    kind = "query"

    def __init__(self, work: str, samples: int, trace: bool, root: str, keys: list[str],
                 lineitem: dict[str, int], warm_ops: int) -> None:
        self.work, self.root = work, root
        self.sf_dir = os.path.join(work, "tables")
        self.keys, self.lineitem, self.warm_ops = keys, lineitem, warm_ops
        # passes in the timed window; a traced window needs two of each kind
        self.n_ops = max(4, samples) if trace else samples
        self.registry = None
        self._passes = 0

    def generate(self, seed: int) -> None:
        write_lineitem(os.path.join(self.sf_dir, "lineitem.parquet"), seed, **self.lineitem)

    def setup_call(self, spark: SparkSession, layer_s: dict[str, list[float]]) -> None:
        """The registry import; later set-ups find it imported."""
        if self.registry is None:
            t = time.perf_counter()
            self.registry = importlib.import_module(PLANS).REGISTRY
            layer_s["plans.import_s"] = [time.perf_counter() - t]

    def attach(self, spark: SparkSession) -> None:
        pass

    def warm_up(self, spark: SparkSession, tracer) -> tuple[int, int, list[str]]:
        """The check pass, then ``warm_ops`` untimed passes; returns (keys
        checked, keys with wrong output, problems)."""
        checked, problems = self.check_pass(spark, tracer)
        for _ in range(self.warm_ops):
            self.run_once(spark, tracer)
        return checked, len(problems), problems

    def check_pass(self, spark: SparkSession, tracer) -> tuple[int, list[str]]:
        """Untimed first pass: every key's rows against its DuckDB oracle
        (one problem at most per key)."""
        import duckdb

        vl = _verify_local(self.root)
        con = duckdb.connect()
        con.sql(f"CREATE VIEW lineitem AS SELECT * FROM '{self.sf_dir}/lineitem.parquet'")
        problems = []
        for key in self.keys:
            q = self.registry[key]
            with tracer.span("query.check", key=key):
                df = q.fn(spark, self.sf_dir)
                cols, rows = list(df.columns), [tuple(r) for r in df.collect()]
            if q.oracle is None:
                problems.append(f"{key}: no oracle")
                continue
            rel = con.sql(q.oracle)
            dcols, drows = list(rel.columns), rel.fetchall()
            if len(rows) != len(drows):
                problems.append(f"{key}: rows spark={len(rows)} oracle={len(drows)}")
            elif sorted(c.lower() for c in cols) != sorted(c.lower() for c in dcols):
                problems.append(f"{key}: columns spark={sorted(cols)} oracle={sorted(dcols)}")
            elif vl._hash_rows(cols, rows) != vl._hash_rows(dcols, drows):
                problems.append(f"{key}: value hash differs from the oracle")
        con.close()
        return len(self.keys), problems

    def run_once(self, spark: SparkSession, tracer, traced: bool = False) -> Pass:
        self._passes += 1
        sc = spark.sparkContext
        p = Pass(wall_s=0.0, keys=list(self.keys))
        with tracer.span("query.pass"):
            t0 = time.perf_counter()
            for key in self.keys:
                if traced:
                    group = f"pass{self._passes}:{key}"
                    sc.setJobGroup(group, key)
                    p.groups[key] = group
                with tracer.span("plans.build", key=key):
                    t = time.perf_counter()
                    df = self.registry[key].fn(spark, self.sf_dir)
                    p.build_s[key] = time.perf_counter() - t
                if traced:
                    p.build_jobs[key] = len(group_job_ids(spark, group))
                with tracer.span("query.action", key=key):
                    t = time.perf_counter()
                    df.write.format("noop").mode("overwrite").save()
                    p.action_s[key] = time.perf_counter() - t
            p.wall_s = time.perf_counter() - t0
        if traced:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return p

    def work_units(self, op: Pass) -> int:
        """Key executions, the unit of ``throughput_per_s``."""
        return len(op.keys)

    attempts = work_units

    def check(self, op: Pass) -> list[str]:
        return []

    def per_layer(self, spark: SparkSession, ops: list[Pass],
                  cpus: int) -> tuple[dict[str, float], JobStats]:
        total = JobStats()
        per_key: dict[str, list[JobStats]] = {k: [] for k in self.keys}
        for op in ops:
            for key, group in op.groups.items():
                st = job_stats(spark, group_job_ids(spark, group))
                per_key[key].append(st)
                total += st
        n = len(ops)
        m = {
            "query.build_s": statistics.median(sum(op.build_s.values()) for op in ops),
            "query.action_s": statistics.median(sum(op.action_s.values()) for op in ops),
            "query.build_jobs": sum(sum(op.build_jobs.values()) for op in ops) / n,
            "query.jobs": total.jobs / n,
            "query.stages": total.stages / n,
            "query.tasks": total.tasks / n,
        }
        for key in self.keys:
            m[f"query.{key}.build_s"] = statistics.median(op.build_s[key] for op in ops)
            m[f"query.{key}.action_s"] = statistics.median(op.action_s[key] for op in ops)
            m[f"query.{key}.jobs"] = sum(s.jobs for s in per_key[key]) / n
        return m, total
