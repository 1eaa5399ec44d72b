"""CLI runner — the `flink run --class com.flinklearn.realtime.<job>`
analog (README.md:27 of the reference): run one reference-parity pipeline
end to end from the command line.

    python -m flink_realtime_data_eng_spark list
    python -m flink_realtime_data_eng_spark basic_streaming [--records 20]
    python -m flink_realtime_data_eng_spark course_use_case

Each job generates its own deterministic CSV fixture (the S3-S5 generator
vocabularies), runs the pipeline with an availableNow trigger (process
everything, then stop — the batch-like mode that makes a CLI invocation
terminate), and prints results to the console sink. Swap the trigger for
`ProcessingTime` in a long-running deployment.
"""

from __future__ import annotations

import argparse
import sys
import tempfile

from pyspark.sql import functions as F


def _spark():
    from .session import get_spark
    return get_spark("cli")


def main(argv: list[str] | None = None) -> int:
    from . import generators, jobs
    from .sinks import console_sink, run_available_now

    job_names = ["basic_streaming", "keyed_stream", "split_and_combine",
                 "stateful_operations", "course_use_case",
                 "event_time_operations"]
    ap = argparse.ArgumentParser(prog="flink_realtime_data_eng_spark")
    ap.add_argument("job", choices=["list"] + job_names)
    ap.add_argument("--records", type=int, default=20,
                    help="fixture records to generate (default 20)")
    args = ap.parse_args(argv)

    if args.job == "list":
        print("\n".join(job_names))
        return 0

    spark = _spark()
    work = tempfile.mkdtemp(prefix="frde_cli_")
    in_dir = f"{work}/in"
    if args.job == "course_use_case":
        generators.generate_browser_files(in_dir, n=args.records)
    else:
        generators.generate_audit_files(in_dir, n=args.records)

    if args.job == "basic_streaming":
        run_available_now(jobs.basic_streaming(
            spark, in_dir, f"{work}/out", f"{work}/ckpt"))
        print(f"five-second summaries written under {work}/out")
    elif args.job == "keyed_stream":
        run_available_now(jobs.keyed_stream(spark, in_dir))
    elif args.job == "split_and_combine":
        run_available_now(jobs.split_and_combine(spark, in_dir))
    elif args.job == "stateful_operations":
        run_available_now(jobs.stateful_operations(spark, in_dir))
    elif args.job == "event_time_operations":
        counts, cap = jobs.event_time_operations(spark, in_dir)
        # window counts to the console; the W3 capture judges the RAW
        # record stream (it splits on each record's event time)
        run_available_now(console_sink(counts, output_mode="append"))
        from . import sources
        from .schemas import AUDIT_TRAIL
        raw = sources.file_csv_stream(spark, in_dir, AUDIT_TRAIL) \
            .withColumn("ts", F.timestamp_millis(F.col("timestamp")))
        run_available_now(raw.writeStream.foreachBatch(cap)
                          .option("checkpointLocation", f"{work}/etckpt"))
        print(f"late rows captured: {cap.late_count}")
    elif args.job == "course_use_case":
        counts, durations = jobs.course_use_case(spark, in_dir)
        run_available_now(console_sink(counts, output_mode="append"))
        run_available_now(console_sink(durations, output_mode="append"))
    return 0


if __name__ == "__main__":
    sys.exit(main())
