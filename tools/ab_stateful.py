#!/usr/bin/env python
"""Same-host A/B of the r12 state-machine vectorizations: replay each
touched streaming query at a given SF with the OLD (row-looped, extracted
from git history into a side module) and NEW stateful.py implementations,
back to back. The sf10 fixture/host were rebuilt between rounds, so r11's
absolute numbers don't compare — this does.

Usage: python tools/ab_stateful.py <old_stateful.py> [sf_dir=/tmp/frde_sf10] [query...]
"""

from __future__ import annotations

import importlib.util
import os
import sys
import time

_HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _HERE)

FNS = ["interval_alerts_stream", "asof_join_stream", "zscore_alert_stream",
       "count_windows_stream", "funnel_stream", "attribution_stream"]
QUERIES = ["st1_stream", "j2_stream", "x_anomaly_stream",
           "x_countwin_stream", "x_funnel_stream", "x_attribution_stream"]


def main() -> None:
    old_path = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/frde_sf10"
    names = sys.argv[3:] or QUERIES

    import flink_realtime_data_eng_spark.streaming.stateful as st
    from flink_realtime_data_eng_spark import registry, session

    spec = importlib.util.spec_from_file_location("old_stateful", old_path)
    old = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(old)

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = session.get_spark("ab_stateful", shuffle_partitions=int(cpus),
                              extra_conf={"spark.driver.memory": "48g"})
    spark.sparkContext.setLogLevel("ERROR")

    new_impl = {f: getattr(st, f) for f in FNS}
    for name in names:
        fn = registry.QUERIES[name]
        row = {}
        for label in ("new", "old", "new2"):
            impl = old if label == "old" else None
            for f in FNS:
                setattr(st, f, getattr(impl, f) if impl else new_impl[f])
            t = None
            for _ in range(2):  # warm + timed
                t0 = time.monotonic()
                fn(spark, sf_dir).write.format("noop") \
                    .mode("overwrite").save()
                t = round(time.monotonic() - t0, 2)
            row[label] = t
        print(f"{name}: new={row['new']} old={row['old']} "
              f"new2={row['new2']}", flush=True)


if __name__ == "__main__":
    main()
