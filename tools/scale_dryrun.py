#!/usr/bin/env python
"""10x scale dry-run (r9 VERDICT task 2): synthesize an sf1-equivalent
dataset in /tmp from sf0.1 and run the heaviest registered queries plus
every fixed-point-aggregate site against it, recording per-query wall
time at both scales and the implied scaling exponent.

Synthesis = union of `copies` id-shifted replicas of each sf0.1 table:

- fact/dim keys shift by copy*10^ceil(log10(max_key)) so joins stay
  consistent WITHIN a copy and never collide across copies; the fixed
  dims (region/nation) are shared, as at a real higher SF.
- documents: every token gets a per-copy suffix for copies > 0, so the
  duplicate/near-duplicate RATE stays what it was (dups exist within a
  copy only) — a verbatim 10x copy would make every doc a 10-clique and
  measure a quadratic-blowup corpus no real sf1 resembles. n_chars is
  recomputed from the rewritten text.
- embeddings: vectors rotate by copy positions (norm-preserving) so ANN
  neighbor structure per copy matches sf0.1 instead of 10 exact twins.
- events keeps its TIMESTAMP(NANOS) physical type (the registry read
  path depends on nanosAsLong) — all writes go through pyarrow with the
  source schema.

Usage:
    python tools/scale_dryrun.py synth [dst=/tmp/frde_sf1] [copies=10]
    python tools/scale_dryrun.py run   [dst=/tmp/frde_sf1] [query ...]
    python tools/scale_dryrun.py runstream [dst=/tmp/frde_sf10] [query ...]
"""

from __future__ import annotations

import json
import math
import os
import re
import sys
import time

SRC = "/root/testdata/sf0.1"

_HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _HERE)

# key columns to shift, per table, grouped by shared keyspace
KEYSPACES = {
    "cust": [("customer", "c_custkey"), ("orders", "o_custkey")],
    "ord": [("orders", "o_orderkey"), ("lineitem", "l_orderkey")],
    "part": [("part", "p_partkey"), ("lineitem", "l_partkey")],
    "supp": [("supplier", "s_suppkey"), ("lineitem", "l_suppkey")],
    "ev": [("events", "event_id")],
    "user": [("events", "user_id")],
    "doc": [("documents", "doc_id")],
    "vec": [("embeddings", "vec_id")],
}
SHARED_DIMS = ["region", "nation"]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def synth(dst: str, copies: int) -> None:
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    os.makedirs(dst, exist_ok=True)
    shifts: dict[tuple[str, str], int] = {}
    for space, cols in KEYSPACES.items():
        mx = 0
        for tbl, col in cols:
            t = pq.read_table(os.path.join(SRC, f"{tbl}.parquet"),
                              columns=[col])
            mx = max(mx, pc.max(t.column(col)).as_py() or 0)
        off = 10 ** math.ceil(math.log10(mx + 1))
        for tbl, col in cols:
            shifts[(tbl, col)] = off
    word_re = re.compile(r"(\S+)")

    for tbl in TABLES:
        src_path = os.path.join(SRC, f"{tbl}.parquet")
        out_path = os.path.join(dst, f"{tbl}.parquet")
        base = pq.read_table(src_path)
        if tbl in SHARED_DIMS:
            pq.write_table(base, out_path)
            print(f"{tbl}: shared dim, {base.num_rows} rows")
            continue
        parts = []
        for k in range(copies):
            t = base
            for (tb, col), off in shifts.items():
                if tb != tbl:
                    continue
                idx = t.schema.get_field_index(col)
                typ = t.schema.field(idx).type
                shifted = pc.add(t.column(col), pa.scalar(k * off, typ))
                t = t.set_column(idx, t.schema.field(idx), shifted)
            if tbl == "documents" and k > 0:
                texts = t.column("text").to_pylist()
                suf = f"q{k}"
                texts = [word_re.sub(lambda m: m.group(1) + suf, s)
                         if s is not None else None for s in texts]
                arr = pa.array(texts, type=t.schema.field("text").type)
                t = t.set_column(t.schema.get_field_index("text"),
                                 t.schema.field("text"), arr)
                nc = pa.array([len(s) if s is not None else None
                               for s in texts],
                              type=t.schema.field("n_chars").type)
                t = t.set_column(t.schema.get_field_index("n_chars"),
                                 t.schema.field("n_chars"), nc)
            if tbl == "embeddings" and k > 0:
                vecs = t.column("embedding").to_pylist()
                rot = [v[k % len(v):] + v[:k % len(v)] if v else v
                       for v in vecs]
                arr = pa.array(rot, type=t.schema.field("embedding").type)
                t = t.set_column(t.schema.get_field_index("embedding"),
                                 t.schema.field("embedding"), arr)
            parts.append(t)
        out = pa.concat_tables(parts)
        pq.write_table(out, out_path)
        print(f"{tbl}: {base.num_rows} -> {out.num_rows} rows")


# 25 heaviest benched queries in BENCH_DETAIL_r08 + every fixed-point
# aggregate site (oracle multiplies an AGGREGATE by a 10^k scale — the
# x_share_report overflow class) found by the scan in pick_queries().
HEAVY = [
    "x_joint_dedup", "x_prefix_filter_join", "x_dedup_stats",
    "x_neardup_keep", "x_neardup_clusters", "x_lsh_recall",
    "x_jaccard_pairs", "x_datasource_scan", "x_nb_source_classifier",
    "x_jaccard_sweep", "x_semdedup_keep", "x_minhash_lsh",
    "x_neardup_pipeline", "x_minhash_estimate", "x_ivf_topk",
    "x_training_manifest", "q21_waiting_orders", "x_profile",
    "x_golden_record", "x_bigram_logprob", "x_incremental_dedup",
    "x_entity_clusters", "x_fk_orphans", "x_join_size_estimate",
    "x_source_overlap",
    # r10 additions
    "x_kmeans_assign", "x_kmeans_incremental", "x_pca_project",
    "x_dsir_weights", "x_dsir_persisted", "x_semantic_leakage",
]


# r11 (VERDICT task 6): the 10 heaviest streaming demos — doc-corpus
# streams (per-batch explode/hash/dedup work scales with the corpus) and
# the stateful/window event streams. x_ann_serve_stream /
# x_leakage_guard_stream already carry r10 sf10 evidence (0.02 / 0.24
# per decade) and are excluded to keep the pass bounded.
STREAM_HEAVY = [
    "x_minhash_stream", "x_dedup_stream", "x_histq_stream",
    "x_chained_windows_stream", "x_join_agg_stream",
    "x_dynsession_stream", "x_dynsession_timeout", "x_cep_stream",
    "x_attribution_stream", "x_cms_stream",
]


def _round_no() -> int:
    """Round in progress = 1 + newest driver BENCH_r{N}, as bench.py."""
    import glob
    rounds = [int(m.group(1))
              for p in glob.glob(os.path.join(_HERE, "BENCH_r*.json"))
              if (m := re.search(r"BENCH_r(\d+)\.json$", p))]
    return (max(rounds) if rounds else 0) + 1


def _out_path(dst: str) -> str:
    rnd = _round_no()
    base = (f"SCALE_DRYRUN_r{rnd:02d}.json" if "sf10" not in dst
            else f"SCALE_DRYRUN_sf10_r{rnd:02d}.json")
    return os.path.join(_HERE, base)


def _merge_write(path: str, results: dict) -> None:
    """Update-merge into the round file so batch and streaming passes
    accumulate instead of overwriting each other."""
    existing = {}
    if os.path.exists(path):
        with open(path) as f:
            existing = json.load(f)
    existing.update(results)
    with open(path, "w") as f:
        json.dump(existing, f, indent=1)


def pick_queries() -> list[str]:
    from flink_realtime_data_eng_spark import registry
    names = list(HEAVY)
    # fixed-point-aggregate sites: SUM(...)*10^k or 10^k*SUM(...) shapes
    # (per-row *10^k products are ANSI-safe; products OF aggregates are
    # the overflow class the r6 x_share_report bug belonged to)
    agg_prod = re.compile(
        r"(SUM|COUNT|AVG)\s*\([^)]*\)[^,\n]{0,40}\*\s*1?0{4,}|"
        r"\b1?0{4,}\s*\*[^,\n]{0,40}(SUM|COUNT)\s*\(", re.I)
    for name, sql in registry.ORACLES.items():
        if name in registry.STREAMING_DEMOS or name in names:
            continue
        if agg_prod.search(sql):
            names.append(name)
    return names


def run(dst: str, only: list[str] | None = None) -> None:
    from flink_realtime_data_eng_spark import registry, session

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = session.get_spark("scale_dryrun", shuffle_partitions=int(cpus),
                              extra_conf={"spark.driver.memory": "48g"})
    spark.sparkContext.setLogLevel("ERROR")

    names = only or pick_queries()
    print(f"running {len(names)} queries at sf0.1 and {dst}")
    results = {}
    for name in names:
        fn = registry.QUERIES[name]
        row = {}
        for label, d in (("sf0.1", SRC), (os.path.basename(dst), dst)):
            try:
                fn(spark, d).write.format("noop").mode("overwrite").save()  # warm
                t0 = time.monotonic()
                fn(spark, d).write.format("noop").mode("overwrite").save()
                row[label] = round(time.monotonic() - t0, 2)
            except Exception as e:
                row[label] = f"ERROR: {type(e).__name__}: {str(e)[:300]}"
        lab = os.path.basename(dst)
        if isinstance(row.get("sf0.1"), float) and isinstance(row.get(lab), float):
            # exponent normalized per decade of data growth: /tmp names
            # encode copies (frde_sf1 = 10x sf0.1, frde_sf10 = 100x)
            decades = 2.0 if "sf10" in lab else 1.0
            row["exponent"] = round(
                math.log10(max(row[lab], 0.01)
                           / max(row["sf0.1"], 0.01)) / decades, 2)
        results[name] = row
        print(json.dumps({name: row}), flush=True)
    _merge_write(_out_path(dst), results)
    errs = [n for n, r in results.items()
            if any(isinstance(v, str) for v in r.values())]
    print(f"done: {len(results)} queries, {len(errs)} errors {errs}")


def run_streams(dst: str, only: list[str] | None = None) -> None:
    """Streaming-family scale dry-run (r11 VERDICT task 6): unlike the
    batch path, a STREAMING_DEMOS fn drains its whole stream (foreachBatch
    / availableNow, fresh checkpoint + sink dirs per call) DURING the
    fn() call and returns the materialized sink as a batch frame — so the
    timed region wraps the fn() call itself plus the noop read-back, i.e.
    the arrival replay end to end. Two passes per scale; the second is
    recorded (the first builds shared artifacts: symlink dirs, persisted
    indexes, JVM/codegen warmup)."""
    from flink_realtime_data_eng_spark import registry, session

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = session.get_spark("scale_dryrun_streams",
                              shuffle_partitions=int(cpus),
                              extra_conf={"spark.driver.memory": "48g"})
    spark.sparkContext.setLogLevel("ERROR")

    names = only or STREAM_HEAVY
    print(f"replaying {len(names)} streams at sf0.1 and {dst}")
    results = {}
    for name in names:
        fn = registry.QUERIES[name]
        row = {}
        for label, d in (("sf0.1", SRC), (os.path.basename(dst), dst)):
            try:
                fn(spark, d).write.format("noop").mode("overwrite").save()
                t0 = time.monotonic()
                fn(spark, d).write.format("noop").mode("overwrite").save()
                row[label] = round(time.monotonic() - t0, 2)
            except Exception as e:
                row[label] = f"ERROR: {type(e).__name__}: {str(e)[:300]}"
        lab = os.path.basename(dst)
        if isinstance(row.get("sf0.1"), float) and isinstance(row.get(lab), float):
            decades = 2.0 if "sf10" in lab else 1.0
            row["exponent"] = round(
                math.log10(max(row[lab], 0.01)
                           / max(row["sf0.1"], 0.01)) / decades, 2)
        row["mode"] = "stream_replay"
        results[name] = row
        print(json.dumps({name: row}), flush=True)
    _merge_write(_out_path(dst), results)
    errs = [n for n, r in results.items()
            if any(isinstance(v, str) for k, v in r.items() if k != "mode")]
    print(f"done: {len(results)} streams, {len(errs)} errors {errs}")


if __name__ == "__main__":
    cmd = sys.argv[1] if len(sys.argv) > 1 else "run"
    dst = sys.argv[2] if len(sys.argv) > 2 else "/tmp/frde_sf1"
    if cmd == "synth":
        copies = int(sys.argv[3]) if len(sys.argv) > 3 else 10
        synth(dst, copies)
    elif cmd == "run":
        run(dst, only=sys.argv[3:] or None)
    elif cmd == "runstream":
        run_streams(dst, only=sys.argv[3:] or None)
    else:
        print(__doc__)
        sys.exit(2)
