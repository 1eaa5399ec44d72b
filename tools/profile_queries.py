#!/usr/bin/env python
"""Split a query's bench time into plan-construction vs execution.

For each named query (default: the 25 slowest in BENCH_DETAIL.json):

- t_construct — time for ``fn(spark, sf_dir)`` to RETURN. For most
  queries this is pure Python plan building (ms); for pipelines with
  eager ``localCheckpoint`` / ``count()`` fixpoints it contains real
  Spark jobs, i.e. driver-sequenced work the noop write never sees.
- t_exec — the noop write of the returned frame (the bench's timed
  action re-runs BOTH, so bench ≈ t_construct + t_exec).
- jobs_c / jobs_e — Spark job count in each phase (statusTracker), the
  scheduling-overhead proxy: at sf0.1 a fixpoint paying 2 jobs/round
  at ~100 ms/job is driver overhead, not data work.

Usage: python tools/profile_queries.py [N | name ...]
Writes PROFILE_QUERIES.json and prints a table.
"""

from __future__ import annotations

import json
import os
import sys
import time

_HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _HERE)


def main() -> None:
    from bench import warmup
    from flink_realtime_data_eng_spark import registry
    from flink_realtime_data_eng_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    detail = json.load(open(os.path.join(_HERE, "BENCH_DETAIL.json")))
    timings = detail["queries"]
    args = sys.argv[1:]
    if args and not args[0].isdigit():
        names = args
    else:
        n = int(args[0]) if args else 25
        batch = [q for q in timings
                 if q in registry.QUERIES and q not in registry.STREAMING_DEMOS]
        names = sorted(batch, key=lambda q: -timings[q])[:n]

    spark = get_spark("profile")
    spark.sparkContext.setLogLevel("ERROR")
    warmup(spark, sf_dir)

    tracker = spark.sparkContext.statusTracker()
    rows = {}
    for name in names:
        fn = registry.QUERIES[name]
        spark.sparkContext.setJobDescription(f"profile:{name}")
        j0 = len(tracker.getJobIdsForGroup(None) or [])
        t0 = time.time()
        df = fn(spark, sf_dir)
        t1 = time.time()
        j1 = len(tracker.getJobIdsForGroup(None) or [])
        df.write.mode("overwrite").format("noop").save()
        t2 = time.time()
        j2 = len(tracker.getJobIdsForGroup(None) or [])
        rows[name] = {"t_construct": round(t1 - t0, 3),
                      "t_exec": round(t2 - t1, 3),
                      "jobs_c": j1 - j0, "jobs_e": j2 - j1,
                      "bench_sec": timings.get(name)}
        print(f"{name:32s} construct {t1-t0:6.2f}s ({j1-j0:3d} jobs)  "
              f"exec {t2-t1:6.2f}s ({j2-j1:3d} jobs)  "
              f"bench {timings.get(name)}")
    spark.sparkContext.setJobDescription(None)
    with open(os.path.join(_HERE, "PROFILE_QUERIES.json"), "w") as f:
        json.dump(rows, f, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
