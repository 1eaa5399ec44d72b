"""Batch workloads: a closed loop, one client, over a fixed query panel.

Each query is the registry's public callable ``QUERIES[name](spark,
sf_dir)``, forced by a ``noop`` write. The tables are the engine's sf0.01
fixture tables, kept byte for byte under ``data/sf0.01``, the same for
every seed; the seed shuffles the query order of each pass. An untimed
first pass collects every result and compares it with the query's DuckDB
oracle; it also warms the session. The timed passes follow, one per ``PASS_S``
seconds of the run.

A traced run alternates untraced and traced passes. A traced pass splits
each query into construction (the registry call, with the Spark jobs it
launched eagerly), Catalyst planning and execution (the ``noop`` write's
jobs, stages, tasks, task time and shuffle/spill bytes).
"""

from __future__ import annotations

import json
import random
import subprocess
import sys
import time
import traceback
from pathlib import Path

import layers
import oracle

TPCH = ["q1_pricing_summary", "q3_shipping_priority", "q4_order_priority",
        "q5_local_supplier_volume", "q6_forecast_revenue", "q9_product_profit",
        "q12_ship_lag_priority", "q13_order_distribution",
        "q18_large_quantity_orders", "q21_waiting_orders"]
DEDUP = ["x_cc_incremental", "x_entity_clusters", "x_lpa_communities",
         "x_prefix_filter_join"]

PANELS = {"tpch_batch": TPCH, "dedup_batch": DEDUP}
# Artifact caches the panel's queries read, built during set-up.
ARTIFACTS = {"tpch_batch": [], "dedup_batch": ["_edges_parquet_dir"]}
SF = 0.01
DATA_DIR = Path(__file__).resolve().parent / "data" / f"sf{SF}"
# Timed passes per run: one per PASS_S seconds of the run (at least one),
# a count fixed by the run length alone, so both sides of a comparison pool
# the same number of samples.
PASS_S = 6


def _noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


class BatchRun:
    def __init__(self, bench, panel: list[str]):
        self.b = bench
        self.panel = panel
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def prepare(self) -> None:
        """Compute the oracle results in a child process, so that the
        benchmark's own work leaves no memory in the driver."""
        self.data_dir = str(DATA_DIR)
        out = self.b.work / "expected.json"
        subprocess.run([sys.executable, __file__, self.data_dir, str(out), *self.panel],
                       check=True)
        self.expected = {k: tuple(v) for k, v in json.loads(out.read_text()).items()}
        from flink_realtime_data_eng_spark import registry
        self.registry = registry

    def _fail(self, name: str, what: str) -> None:
        self.failed += 1
        self.errors.append(f"{name}: {what}")

    def check_pass(self, spark) -> None:
        for name in self.panel:
            self.attempted += 1
            try:
                df = self.registry.QUERIES[name](spark, self.data_dir)
                rows = [tuple(r) for r in df.collect()]
                got = (len(rows), oracle.value_hash(df.columns, rows))
            except Exception:
                self._fail(name, traceback.format_exc(limit=3))
                continue
            if got != self.expected[name]:
                self._fail(name, f"result {got} != oracle {self.expected[name]}")

    def timed_pass(self, spark, order: list[str], traced: bool,
                   rows: list[dict], pass_no: int) -> float | None:
        """Seconds for one pass, or None when a query failed."""
        counters = layers.SparkCounters(spark) if traced else None
        tracer = self.b.tracer if traced else layers.Tracer(False)
        ok = True
        t_pass = time.perf_counter()
        for name in order:
            self.attempted += 1
            trace_id = f"p{pass_no}:{name}"
            try:
                with tracer.span("query", trace_id, query=name):
                    j0 = counters.next_job_id() if traced else 0
                    t0 = time.perf_counter()
                    with tracer.span("registry.construct", trace_id):
                        df = self.registry.QUERIES[name](spark, self.data_dir)
                    t1 = time.perf_counter()
                    if traced:
                        j1 = counters.next_job_id()
                        with tracer.span("plans.plan", trace_id):
                            df._jdf.queryExecution().executedPlan()
                    t2 = time.perf_counter()
                    with tracer.span("exec.write", trace_id):
                        _noop(df)
                    t3 = time.perf_counter()
            except Exception:
                self._fail(name, traceback.format_exc(limit=3))
                ok = False
                continue
            row = {"pass": pass_no, "query": name, "traced": traced,
                   "latency_ms": (t3 - t0) * 1e3, "construct_ms": (t1 - t0) * 1e3,
                   "plan_ms": (t2 - t1) * 1e3, "exec_ms": (t3 - t2) * 1e3}
            if traced:
                j2 = counters.next_job_id()
                row["construct"] = counters.collect(j0, j1)
                row["exec"] = counters.collect(j1, j2)
            rows.append(row)
        return time.perf_counter() - t_pass if ok else None


def run(bench, workload: str) -> dict:
    br = BatchRun(bench, PANELS[workload])
    br.prepare()
    bench.phase("prepare")

    def build_artifacts(spark) -> None:
        for helper in ARTIFACTS[workload]:
            getattr(br.registry, helper)(spark, br.data_dir)

    spark = bench.setup(build_artifacts)
    br.check_pass(spark)
    bench.phase("check")

    rng = random.Random(bench.seed)
    rows: list[dict] = []
    passes = {False: [], True: []}
    # Pass kinds: untraced only, or untraced/traced pairs in a traced run.
    kinds = [False, True] if bench.trace else [False]
    pass_no = 0
    for _ in range(max(1, bench.seconds // PASS_S)):
        for traced in kinds:
            order = list(br.panel)
            rng.shuffle(order)
            secs = br.timed_pass(spark, order, traced, rows, pass_no)
            pass_no += 1
            if secs is not None:
                passes[traced].append(secs)
    bench.phase("timed")
    bench.memory.stop()
    bench.stop_spark()
    bench.phase("stop")

    untraced = [r for r in rows if not r["traced"]]
    lat = [r["latency_ms"] for r in untraced]
    metrics = {
        "wall_s": layers.median(passes[False]),
        "latency_p50_ms": layers.percentile(lat, 50),
        "latency_p90_ms": layers.percentile(lat, 90),
    }
    detail = {"panel": br.panel, "rows": {k: v[0] for k, v in br.expected.items()},
              "passes_s": passes[False],
              "latency_samples": len(lat), "untraced_queries": untraced,
              "errors": br.errors}
    layer_metrics = {}
    if bench.trace:
        layer_metrics = _layer_metrics(rows, passes)
        detail["queries"] = [r for r in rows if r["traced"]]
    return {"attempted": br.attempted, "failed": br.failed, "metrics": metrics,
            "layers": layer_metrics, "detail": detail}


def _layer_metrics(rows: list[dict], passes: dict) -> dict:
    """Per-pass sums over traced passes, median across those passes."""
    traced = [r for r in rows if r["traced"]]
    by_pass: dict[int, list[dict]] = {}
    for r in traced:
        by_pass.setdefault(r["pass"], []).append(r)

    def per_pass(fn) -> float:
        return layers.median(sum(fn(r) for r in rs) for rs in by_pass.values())

    out = {
        "registry.construct_ms": per_pass(lambda r: r["construct_ms"]),
        "registry.construct_jobs": per_pass(lambda r: r["construct"]["jobs"]),
        "plans.plan_ms": per_pass(lambda r: r["plan_ms"]),
        "exec.ms": per_pass(lambda r: r["exec_ms"]),
    }
    for field in layers.SparkCounters.FIELDS:
        out[f"exec.{field}"] = per_pass(lambda r, f=field: r["exec"][f])
    untraced, traced_s = layers.median(passes[False]), layers.median(passes[True])
    out["trace.overhead_pct"] = ((traced_s / untraced - 1.0) * 100
                                 if untraced and traced_s else 0.0)
    return out


def _prepare(argv: list[str]) -> None:
    """``batch.py DATA_DIR OUT QUERY...``: write the oracle results (rows,
    hash) per query as JSON."""
    from flink_realtime_data_eng_spark import registry
    data_dir, out, names = argv[0], argv[1], argv[2:]
    expected = oracle.batch_expected(data_dir, registry.ORACLES, names)
    with open(out, "w") as fh:
        json.dump(expected, fh)


if __name__ == "__main__":
    _prepare(sys.argv[1:])
