"""End-to-end job builders — one per reference pipeline ``main()``.

A user of the reference runs ``flink run --class com.flinklearn.realtime.
<chapter>.<Class>``; here each chapter is a builder that assembles
source → operators → sink and returns the un-started writer(s). Call
``.start()`` on each — the analog of ``env.execute()`` — or
:func:`sinks.run_available_now`, which runs it to completion, waits, and
raises ``TimeoutError`` if it hangs.

Kafka-fed chapters accept ANY value-typed streaming DataFrame as the
source argument, so tests inject a file-fixture stream and a production
deployment passes ``sources.kafka_values(sources.kafka_stream_reader(
spark, topic).load())`` — the topology is identical either way.

| builder | reference main | topology |
|---|---|---|
| basic_streaming        | chapter2/BasicStreamingOperations.java  | file → parse → 5 s tumbling count → file sink (+ console summary) |
| keyed_stream           | chapter2/KeyedStreamOperations.java     | file → parse → per-user running duration sum → console (update) |
| split_and_combine      | chapter2/StreamSplitAndCombine.java     | file → parse → split Customer / (user,1) → tag + union → console |
| windowing_operations   | chapter3/WindowingOperations.java       | kafka → parse → 10 s/5 s sliding agg + 5 s-gap keyed sessions |
| window_joins           | chapter3/WindowJoins.java               | file ⋈ kafka on (user, 5 s window) |
| event_time_operations  | chapter4/EventTimeOperations.java       | file → parse → watermark → 1 s window + late capture → sink |
| stateful_operations    | chapter5/StatefulOperations.java        | file → parse → delete-interval alert state machine → console |
| course_use_case        | chapter6/CourseUseCase.java             | browser file → keyed 10 s counts + action-duration machine |
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import sinks, sources
from .schemas import AUDIT_TRAIL, BROWSER_EVENT
from .streaming import pipelines, stateful, watermark


def _audit_stream(spark: SparkSession, in_dir: str) -> DataFrame:
    """S1 + P1: the file-monitor audit stream every chapter starts from,
    with event time from the record's epoch-ms ``timestamp``."""
    parsed = sources.file_csv_stream(spark, in_dir, AUDIT_TRAIL)
    return parsed.withColumn("ts", F.timestamp_millis(F.col("timestamp")))


def basic_streaming(spark: SparkSession, in_dir: str, out_dir: str,
                    checkpoint: str):
    """chapter2/BasicStreamingOperations.java:34-109: file stream → parse →
    5 s tumbling count → row-format file sink. Returns the file-sink writer."""
    counts = pipelines.tumbling_counts(_audit_stream(spark, in_dir),
                                       "ts", "5 seconds")
    return sinks.file_sink(counts, out_dir, checkpoint, fmt="csv")


def keyed_stream(spark: SparkSession, in_dir: str):
    """chapter2/KeyedStreamOperations.java:49-71: keyBy(user) → running
    duration sum, re-emitted per trigger (update mode) → console."""
    totals = pipelines.running_totals(_audit_stream(spark, in_dir),
                                      ["user"], "duration",
                                      out_col="total_duration")
    return sinks.console_sink(totals, output_mode="update")


def split_and_combine(spark: SparkSession, in_dir: str):
    """chapter2/StreamSplitAndCombine.java:58-134: route Customer records
    one way, everything else as (user, 1), tag and re-union. One source
    scan, two filters, schema-normalizing union — the CoMap, declaratively."""
    from .operators.split_merge import split_by_predicate, tag_and_merge
    ev = _audit_stream(spark, in_dir)
    customers, others = split_by_predicate(ev, F.col("entity") == "Customer")
    merged = tag_and_merge(customers, others.select("user", F.lit(1).alias("one")),
                           key_col="user")
    return sinks.console_sink(merged)


def windowing_operations(audit_values: DataFrame):
    """chapter3/WindowingOperations.java:47-155: one (Kafka) stream, two
    windowed views — global 10 s/5 s sliding count/min/max and per-user 5 s-gap
    session count/min/max. Returns (sliding_df, session_df) ready for sinks."""
    from .operators.projections import parse_csv_lines
    parsed = parse_csv_lines(audit_values, AUDIT_TRAIL)
    ev = parsed.withColumn("ts", F.timestamp_millis(F.col("timestamp")))
    aggs = [F.count(F.lit(1)).alias("cnt"),
            F.min("timestamp").alias("min_ts_ms"),
            F.max("timestamp").alias("max_ts_ms")]
    sliding = pipelines.sliding_counts(ev, "ts", "10 seconds", "5 seconds",
                                       aggs=aggs)
    session = pipelines.session_counts(ev, "ts", "5 seconds", keys=["user"],
                                       aggs=aggs)
    return sliding, session


def window_joins(spark: SparkSession, file_dir: str, kafka_values: DataFrame):
    """chapter3/WindowJoins.java:50-124: file stream ⋈ Kafka stream on
    (user, same 5 s window). Returns the joined stream for a sink."""
    from .operators.projections import parse_csv_lines
    left = _audit_stream(spark, file_dir).select("user", "ts")
    right = (parse_csv_lines(kafka_values, AUDIT_TRAIL)
             .withColumn("ts", F.timestamp_millis(F.col("timestamp")))
             .select("user", "ts"))
    return pipelines.windowed_join(left, right, key="user", ts_col="ts",
                                   size="5 seconds")


def event_time_operations(spark: SparkSession, in_dir: str,
                          late_capture: watermark.LateDataCapture | None = None,
                          delay: str = "10 seconds"):
    """chapter4/EventTimeOperations.java:56-221: event-time 1 s tumbling
    count on a watermarked stream, with W3 late-data capture available via
    the returned capture object (bind it to the started query). The
    reference's exactly-once Kafka sink maps to sinks.kafka_sink
    (at-least-once, documented gap)."""
    ev = _audit_stream(spark, in_dir)
    # W1 is declared once: tumbling_counts installs withWatermark(ts, delay)
    # itself (redefining a watermark is an analysis error).
    counts = pipelines.tumbling_counts(ev, "ts", "1 second", watermark=delay)
    if late_capture is None:
        # The default capture must judge lateness with the SAME bound the
        # aggregation uses. Let Spark parse the interval (any syntax
        # withWatermark accepts — '1 hour', compound intervals, …).
        delay_ms = spark.sql(
            f"SELECT unix_millis(timestamp'1970-01-01 00:00:00Z'"
            f" + INTERVAL {delay}) AS ms").collect()[0]["ms"]
        late_capture = watermark.LateDataCapture("ts", delay_ms=delay_ms)
    return counts, late_capture


def stateful_operations(spark: SparkSession, in_dir: str,
                        threshold_ms: int = 10_000,
                        expected_keys: int | None = None):
    """chapter5/StatefulOperations.java:56-126: per-user ValueState delete-
    interval alerts; sentinel rows are never emitted (the reference's P4
    filter is subsumed by the state machine). ``expected_keys`` routes to
    the key-group production twin at high key cardinality
    (stateful.keyed_stateful; integral keys only — the reference's
    string-keyed audit stream always takes the per-key parity form)."""
    ev = sources.file_csv_stream(spark, in_dir, AUDIT_TRAIL)
    alerts = stateful.keyed_stateful(
        "interval_alerts_stream", ev, expected_keys=expected_keys,
        key="user", ts_ms="timestamp", event_col="operation",
        match_value="Delete", threshold_ms=threshold_ms)
    return sinks.console_sink(alerts)


def course_use_case(spark: SparkSession, in_dir: str,
                    expected_keys: int | None = None):
    """chapter6/CourseUseCase.java:56-186: browser clickstream → (a) per
    (user, action) 10 s tumbling counts, (b) the action-duration session
    machine. Returns (counts_df, durations_df). ``expected_keys`` routes
    (b) to its key-group twin at high key cardinality
    (stateful.keyed_stateful)."""
    ev = sources.file_csv_stream(spark, in_dir, BROWSER_EVENT)
    ts = ev.withColumn("ts", F.timestamp_millis(F.col("timestamp")))
    counts = pipelines.tumbling_counts(ts, "ts", "10 seconds",
                                       keys=["user", "action"])
    durations = stateful.keyed_stateful(
        "action_durations_stream", ev, expected_keys=expected_keys,
        key="user", ts_ms="timestamp", action_col="action",
        session_start="Login", session_end="Logout")
    return counts, durations
