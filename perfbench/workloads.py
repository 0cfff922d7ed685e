"""The two workloads, each driven only through the package's public calls.

A workload prepares its inputs once (``prepare``), checks its outputs once
(``check``, which includes the cold pass), then runs passes: ``run_pass``
untraced, returning per-operation latencies, or ``traced_pass``, returning
the per-layer metrics of one pass.
"""

from __future__ import annotations

import json
import os
import random
import time

from etl_power_bi_dashboard_spark import sinks
from etl_power_bi_dashboard_spark.operators.aggregates import create_aggregated_tables
from etl_power_bi_dashboard_spark.operators.model import create_dimensional_model
from etl_power_bi_dashboard_spark.operators.transform import transform_data
from etl_power_bi_dashboard_spark.pipeline import run_pipeline
from etl_power_bi_dashboard_spark.plans import REGISTRY
from etl_power_bi_dashboard_spark.sources.olist import extract_data

import checks
import olistgen
import probes

HERE = os.path.dirname(os.path.abspath(__file__))
MB = 1024 * 1024

# every per-layer metric: (name, unit); a layer a workload does not call
# reports 0
PER_LAYER = [
    ("session.jobs", "count"), ("session.stages", "count"),
    ("session.tasks", "count"), ("session.failed_tasks", "count"),
    ("session.exec_run_s", "s"), ("session.exec_cpu_s", "s"),
    ("session.core_busy", "ratio"),
    ("session.shuffle_read_mb", "MB"), ("session.shuffle_write_mb", "MB"),
    ("session.spill_mb", "MB"), ("session.task_skew", "ratio"),
    ("session.codegen_compiles", "count"), ("session.codegen_s", "s"),
    ("session.jit_s", "s"), ("session.gc_s", "s"),
    ("session.peak_rss_mb", "MB"),
    ("sources.extract_s", "s"), ("sources.csv_read_mb", "MB"),
    ("operators.transform_s", "s"), ("operators.model_s", "s"),
    ("operators.aggregates_s", "s"),
    ("sinks.export_s", "s"), ("sinks.csv_s", "s"), ("sinks.parquet_s", "s"),
    ("sinks.write_jobs", "count"), ("sinks.bytes_written_mb", "MB"),
    ("sinks.files_written", "count"),
    ("pipeline.plan_s", "s"),
    ("plans.build_s", "s"), ("plans.exec_s", "s"),
    ("plans.jobs_per_query", "count"),
    ("operators.graph.pagerank_s", "s"), ("operators.graph.pagerank_jobs", "count"),
    ("operators.graph.components_s", "s"),
    ("operators.graph.components_jobs", "count"),
    ("operators.clustering.kmeans_s", "s"),
    ("operators.clustering.kmeans_jobs", "count"),
    ("trace.pass_s", "s"), ("trace.overhead_s", "s"),
]


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _session_metrics(h: dict, jvm: dict, wall: float, cores: int) -> dict:
    return {
        "session.jobs": h["jobs"], "session.stages": h["stages"],
        "session.tasks": h["tasks"], "session.failed_tasks": h["failed_tasks"],
        "session.exec_run_s": h["run_ms"] / 1e3,
        "session.exec_cpu_s": h["cpu_ns"] / 1e9,
        "session.core_busy": h["run_ms"] / 1e3 / (wall * cores),
        "session.shuffle_read_mb": h["shuffle_read"] / MB,
        "session.shuffle_write_mb": h["shuffle_write"] / MB,
        "session.spill_mb": h["spill"] / MB,
        "session.task_skew": h["task_skew"],
        "session.codegen_compiles": jvm["codegen_compiles"],
        # an estimate: the span's compiles times the sampled mean compile time
        "session.codegen_s": jvm["codegen_compiles"] * jvm["codegen_mean_ms"] / 1e3,
        "session.jit_s": jvm["jit_ms"] / 1e3,
        "session.gc_s": jvm["gc_ms"] / 1e3,
    }


class EtlRefresh:
    """One pass = one ``run_pipeline(raw, out)`` over seeded Olist CSVs."""

    name = "etl_refresh"
    # a tenth of the Kaggle Olist row counts (about 10k orders)
    SCALE = 0.1

    def __init__(self, spark, work: str, seed: int, cores: int):
        self.spark, self.seed, self.cores = spark, seed, cores
        self.raw = os.path.join(work, "raw")
        self.out = os.path.join(work, "out")

    def prepare(self) -> None:
        olistgen.generate(self.raw, self.seed, self.SCALE)

    def check(self) -> list[tuple[str, str | None]]:
        self.run_pass()
        return checks.check_export(self.raw, self.out)

    def run_pass(self) -> list[float]:
        t0 = time.perf_counter()
        run_pipeline(self.spark, self.raw, self.out)
        return [time.perf_counter() - t0]

    def traced_pass(self, sp: probes.StatusProbe, jp: probes.JvmProbe) -> dict:
        # the refresh itself, split at the stage calls run_pipeline makes
        last_exec = sp.last_execution_id()
        j0, t0 = jp.read(), time.perf_counter()
        g_plan = sp.begin("plan")
        dims, fact = create_dimensional_model(
            transform_data(extract_data(self.spark, self.raw)))
        aggs = create_aggregated_tables(fact, dims)
        t_plan = time.perf_counter()
        g_export = sp.begin("export")
        sinks.export_star(dims, fact, aggs, self.out)
        sinks.write_bi_contract(self.out)
        t_end = time.perf_counter()
        jvm = probes.delta(jp.read(), j0)
        wall = t_end - t0
        # harvested after the clock stops; the spans stay exact
        session = sp.harvest([g_plan, g_export], skew=True)
        export = sp.harvest([g_export])
        writes = sp.write_executions(last_exec)
        m = _session_metrics(session, jvm, wall, self.cores)
        m.update({
            "pipeline.plan_s": t_plan - t0,
            "sinks.export_s": t_end - t_plan,
            "sinks.write_jobs": export["jobs"],
            "sources.csv_read_mb": session["input_bytes"] / MB,
            "sinks.csv_s": sum(s for fmt, s in writes if fmt == "csv"),
            "sinks.parquet_s": sum(s for fmt, s in writes if fmt == "parquet"),
        })
        m.update(self._written())
        m.update(self._lazy_layers(sp))
        return m

    def _written(self) -> dict:
        files = nbytes = 0
        for d, _, names in os.walk(self.out):
            for n in names:
                if n.startswith("part-"):
                    files += 1
                    nbytes += os.path.getsize(os.path.join(d, n))
        return {"sinks.files_written": files, "sinks.bytes_written_mb": nbytes / MB}

    def _lazy_layers(self, sp: probes.StatusProbe) -> dict:
        """Force each lazy stage's outputs once with the noop sink; a layer
        costs its own forced time minus its input's forced time."""
        sp.begin("probe")
        forced = []
        for upto in range(4):
            t0 = time.perf_counter()
            raw = extract_data(self.spark, self.raw)
            outs = list(raw.values())
            if upto >= 1:
                tr = transform_data(raw)
                outs = list(tr.values())
            if upto >= 2:
                dims, fact = create_dimensional_model(tr)
                outs = [*dims.values(), fact]
            if upto >= 3:
                outs = list(create_aggregated_tables(fact, dims).values())
            for df in outs:
                _noop(df)
            forced.append(time.perf_counter() - t0)
        return {
            "sources.extract_s": forced[0],
            "operators.transform_s": forced[1] - forced[0],
            "operators.model_s": forced[2] - forced[1],
            "operators.aggregates_s": forced[3] - forced[2],
        }


class QueryMix:
    """One pass = every query of the mix once, in a seeded order, each
    forced with the noop sink. Dashboard-shaped registry queries plus the
    three iterative ones, which run many small jobs each."""

    name = "query_mix"
    BI = ["a1_sales_by_date", "a4_sales_by_state", "dax_measures",
          "e1_tumbling_hourly", "h9_product_profit"]
    # iterative query -> the per-layer metric prefix of the operator it drives
    ITERATIVE = {"ml2_pagerank": "operators.graph.pagerank",
                 "d6_dup_clusters": "operators.graph.components",
                 "ml1_kmeans": "operators.clustering.kmeans"}
    DATA = os.path.join(HERE, "data")

    def __init__(self, spark, work: str, seed: int, cores: int):
        self.spark, self.cores = spark, cores
        self.mix = self.BI + list(self.ITERATIVE)
        self.rng = random.Random(seed)

    def prepare(self) -> None:
        """The inputs are the committed tables in ``data/``."""

    def order(self) -> list[str]:
        return self.rng.sample(self.mix, len(self.mix))

    def check(self) -> list[tuple[str, str | None]]:
        with open(os.path.join(HERE, "expected.json")) as f:
            expected = json.load(f)
        con = checks.oracle_connection(self.DATA)
        try:
            results = []
            for q in self.order():
                df = REGISTRY[q].spark(self.spark, self.DATA)
                if q == "ml2_pagerank":
                    why = checks.pagerank_law(df.toPandas(), con)
                elif q == "ml1_kmeans":
                    why = checks.kmeans_law(df.toPandas(), con)
                elif q in expected:
                    why = checks.check_digest(q, df.toPandas(), expected)
                else:
                    why = checks.check_oracle(q, df, con, REGISTRY[q].oracle)
                results.append((q, why))
            return results
        finally:
            con.close()

    def run_pass(self) -> list[float]:
        lat = []
        for q in self.order():
            t0 = time.perf_counter()
            _noop(REGISTRY[q].spark(self.spark, self.DATA))
            lat.append(time.perf_counter() - t0)
        return lat

    def traced_pass(self, sp: probes.StatusProbe, jp: probes.JvmProbe) -> dict:
        groups, spans = [], {}
        build = execute = 0.0
        j0, t0 = jp.read(), time.perf_counter()
        for q in self.order():
            groups.append(sp.begin(q))
            tb = time.perf_counter()
            df = REGISTRY[q].spark(self.spark, self.DATA)
            te = time.perf_counter()
            _noop(df)
            tq = time.perf_counter()
            build += te - tb
            execute += tq - te
            spans[q] = (groups[-1], tq - tb)
        wall = time.perf_counter() - t0
        jvm = probes.delta(jp.read(), j0)
        session = sp.harvest(groups, skew=True)
        m = _session_metrics(session, jvm, wall, self.cores)
        m.update({
            "plans.build_s": build, "plans.exec_s": execute,
            "plans.jobs_per_query": session["jobs"] / len(self.mix),
        })
        for q, prefix in self.ITERATIVE.items():
            group, secs = spans[q]
            m[f"{prefix}_s"] = secs
            m[f"{prefix}_jobs"] = len(sp.jobs(group))
        return m


WORKLOADS = {w.name: w for w in (EtlRefresh, QueryMix)}
