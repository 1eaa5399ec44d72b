"""Dump formatted physical plans for the bench's heaviest queries.

Writes PLANS.md: per query, the `.explain("formatted")` output at
sf0.001 plus its Exchange count — the review artifact for "is this the
plan we'd want at 100x". Run per round after bench:

    python tools/dump_plans.py [N]

picks the N (default 8) slowest batch queries from BENCH_DETAIL.json.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from flink_realtime_data_eng_spark import registry  # noqa: E402


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    detail = json.load(open(os.path.join(root, "BENCH_DETAIL.json")))
    timings = detail["queries"]
    batch = [q for q in timings
             if q in registry.QUERIES and q not in registry.STREAMING_DEMOS]
    heaviest = sorted(batch, key=lambda q: -timings[q])[:n]

    from flink_realtime_data_eng_spark.session import get_test_spark
    spark = get_test_spark("dump_plans")
    sf_dir = "/root/testdata/sf0.001"

    out = ["# Physical plans — heaviest bench queries",
           "",
           f"Generated by tools/dump_plans.py from BENCH_DETAIL.json "
           f"(sf={detail.get('sf')}); plans taken at sf0.001 with AQE on. "
           "Review focus: scan pushdown, exchange count, no cartesian "
           "products outside the whitelisted 1-row broadcasts.", ""]
    for name in heaviest:
        df = registry.QUERIES[name](spark, sf_dir)
        qe = df._jdf.queryExecution()
        plan = qe.executedPlan().toString().split("== Initial Plan ==")[0]
        n_ex = plan.count("Exchange ")
        formatted = qe.explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode
            .fromString("formatted"))
        out.append(f"## {name} — {timings[name]:.2f}s at sf0.1, "
                   f"{n_ex} exchanges at sf0.001")
        out.append("")
        out.append("```")
        out.append(formatted.strip())
        out.append("```")
        out.append("")
    with open(os.path.join(root, "PLANS.md"), "w") as fh:
        fh.write("\n".join(out))
    print(f"PLANS.md written: {len(heaviest)} plans")


if __name__ == "__main__":
    main()
