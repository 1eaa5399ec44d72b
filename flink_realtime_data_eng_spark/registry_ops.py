"""Reference-parity operators (SURVEY §2): P/A/J/ST batch forms, the streaming round-trip demos, and the TPC-H wrappers.

Split out of the original registry.py (r9); statement text is
verbatim so per-query content hashes are unchanged.
"""

from __future__ import annotations

from .registry_core import (  # noqa: F401
    DataFrame,
    F,
    SparkSession,
    T,
    _docs,
    _events,
    _prep,
    funnel,
    joins,
    packing,
    projections,
    relational,
    sketches,
    split_merge,
    stateful,
    stats,
    text,
    windows,
)



# ---------------------------------------------------------------------------
# Reference-parity operators (SURVEY §2) — batch forms over `events`
# ---------------------------------------------------------------------------

_AUDIT_LIKE = T.StructType([
    T.StructField("event_id", T.LongType()),
    T.StructField("user_id", T.LongType()),
    T.StructField("event_type", T.StringType()),
    T.StructField("ts_ms", T.LongType()),
    T.StructField("value", T.DoubleType()),
])


def p1_parse_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 (AuditTrail.java:15-30): CSV line → typed record. Round-trips the
    events table through quoted CSV lines and ``from_csv``; the oracle is the
    original projection (exact round-trip is the correctness claim)."""
    e = _events(spark, sf_dir)
    # coalesce keeps the field COUNT stable under NULLs (concat of a NULL
    # field is NULL and concat_ws would silently drop it, shifting every
    # later column); a NULL round-trips as the empty field.
    line = F.concat_ws(",", *[
        F.concat(F.lit('"'), F.coalesce(F.col(c).cast("string"), F.lit("")),
                 F.lit('"'))
        for c in ["event_id", "user_id", "event_type", "ts_ms", "value"]])
    lines = e.select(line.alias("value"))
    return projections.parse_csv_lines(lines, _AUDIT_LIKE)


def p2_parse_browser(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2 (CourseUseCase.java:69-84): positional parse dropping column 0."""
    e = _events(spark, sf_dir)
    line = F.concat_ws(",", *[
        F.coalesce(F.col(c).cast("string"), F.lit(""))
        for c in ["event_id", "user_id", "event_type", "ts_ms"]])
    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("ts_ms", T.LongType()),
    ])
    parsed = projections.parse_csv_lines(e.select(line.alias("value")), schema)
    return projections.project(parsed, "user_id", "event_type", "ts_ms")


def p3_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3 (KeyedStreamOperations.java:62-66 and 7 more cites): record →
    tuple projection maps — the (user, duration)-style narrow select, here
    (user_id, value, lit 1) with a computed column, fused into the scan."""
    e = _events(spark, sf_dir)
    return projections.project(
        e, F.col("user_id"), F.col("event_type"),
        F.round(F.col("value") * 10_000).cast("bigint").alias("value_e4"),
        F.lit(1).cast("bigint").alias("one"))


def p4_filter_sentinel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 (StatefulOperations.java:120-126): sentinel-drop filter."""
    e = _events(spark, sf_dir)
    return projections.filter_sentinel(e, "event_type", "error") \
        .select("event_id", "user_id", "event_type", "ts_ms")


def p5_split_main(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 main branch (StreamSplitAndCombine.java:72-100): predicate side
    keeps the full record schema."""
    e = _events(spark, sf_dir)
    main, _side = split_merge.split_by_predicate(e, F.col("event_type") == "click")
    return main.select("event_id", "user_id", "event_type", "ts_ms", "value")


def p5_split_side(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 side output: the non-matching branch projected to (user, 1) — the
    side output carries a DIFFERENT schema, as in the reference."""
    e = _events(spark, sf_dir)
    _main, side = split_merge.split_by_predicate(e, F.col("event_type") == "click")
    return side.select(F.col("user_id"), F.lit(1).cast("bigint").alias("one"))


def p6_tag_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6 (StreamSplitAndCombine.java:112-128): CoMap tag-and-union."""
    e = _events(spark, sf_dir)
    main, side = split_merge.split_by_predicate(e, F.col("event_type") == "click")
    merged = split_merge.tag_and_merge(main, side, key_col="user_id")
    return merged.select("src", "key", F.col("one").cast("bigint").alias("one"))


def a1_tumbling_count_5s(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 (MapCountPrinter.java:15-34): global 5 s tumbling count."""
    e = _events(spark, sf_dir)
    return windows.tumbling_agg(e, "ts_ms", 5000,
                                aggs=[F.count(F.lit(1)).alias("cnt")])


def a2_running_reduce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 (KeyedStreamOperations.java:67-68): per-key cumulative sum emitted
    per record. Fixed-point value so the running sum is exact."""
    e = _events(spark, sf_dir).withColumn(
        "value_e4", F.round(F.col("value") * 10000).cast("bigint"))
    out = windows.running_reduce(e, ["user_id"], ["ts_ms", "event_id"],
                                 "value_e4", "running_e4")
    return out.select("event_id", "user_id", "ts_ms", "running_e4")


def a3_sliding_agg_10s_5s(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 (WindowingOperations.java:77-92): 10 s / 5 s sliding count+min+max."""
    e = _events(spark, sf_dir)
    return windows.sliding_agg(
        e, "ts_ms", 10_000, 5_000,
        aggs=[F.count(F.lit(1)).alias("cnt"),
              F.min("ts_ms").alias("min_ts_ms"),
              F.max("ts_ms").alias("max_ts_ms")])


def a4_session_agg_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 (WindowingOperations.java:115-128): keyed session windows (1 h gap
    on this fixture's cadence) with count/min/max."""
    e = _events(spark, sf_dir)
    return windows.session_agg(
        e, "ts_ms", 3_600_000, keys=["user_id"],
        aggs=[F.count(F.lit(1)).alias("cnt"),
              F.min("ts_ms").alias("min_ts_ms"),
              F.max("ts_ms").alias("max_ts_ms")])


def a5_keyed_tumbling_10s(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 (CourseUseCase.java:90-104): composite-key 10 s tumbling count."""
    e = _events(spark, sf_dir)
    return windows.tumbling_agg(e, "ts_ms", 10_000,
                                keys=["user_id", "event_type"],
                                aggs=[F.count(F.lit(1)).alias("cnt")])


def a5_salted_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 under skew mitigation: the same keyed tumbling count computed as a
    salted two-stage aggregation (operators/skew.py) — identical results to
    a5_keyed_tumbling_10s by construction, same oracle proves it."""
    from .operators.skew import salted_count
    e = _events(spark, sf_dir)
    bucketed = e.select(joins.window_bucket("ts_ms", 10_000),
                        "user_id", "event_type")
    return salted_count(bucketed, ["window_start_ms", "user_id", "event_type"],
                        salt=16, out_col="cnt")


def a6_tumbling_count_1s(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 (EventTimeOperations.java:151-160): 1 s event-time tumbling count
    (batch form; the late-data streaming form lives in streaming/)."""
    e = _events(spark, sf_dir)
    return windows.tumbling_agg(e, "ts_ms", 1000,
                                aggs=[F.count(F.lit(1)).alias("cnt")])


def j1_windowed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 (WindowJoins.java:106-121): windowed inner equi-join of two event
    streams (clicks ⋈ views) on user within the same 1 h tumbling window."""
    e = _events(spark, sf_dir)
    left = e.filter(F.col("event_type") == "click").select("user_id", "ts_ms", "event_id")
    right = e.filter(F.col("event_type") == "view").select("user_id", "ts_ms", "event_id")
    return joins.windowed_equi_join(left, right, key="user_id",
                                    ts_ms="ts_ms", size_ms=3_600_000)


def j2_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 (beyond the reference): as-of join — each click matched to the
    user's latest purchase at-or-before it. Right side pre-aggregated to one
    row per (user, ts) so the match is deterministic on both engines."""
    e = _events(spark, sf_dir)
    left = (e.filter(F.col("event_type") == "click")
             .select("user_id", "ts_ms", "event_id"))
    right = (e.filter(F.col("event_type") == "purchase")
              .groupBy("user_id", "ts_ms")
              .agg(F.max("value").alias("purchase_value")))
    return joins.asof_join(left, right, key="user_id", ts_ms="ts_ms",
                           value_cols=["purchase_value"])


def j2_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of: each click matched to the user's EARLIEST purchase
    at-or-after it (next-conversion lookup) — the mirrored direction of
    j2, same one-shuffle union+carry machinery via timestamp negation."""
    e = _events(spark, sf_dir)
    left = (e.filter(F.col("event_type") == "click")
             .select("user_id", "ts_ms", "event_id"))
    right = (e.filter(F.col("event_type") == "purchase")
              .groupBy("user_id", "ts_ms")
              .agg(F.max("value").alias("purchase_value")))
    return joins.asof_join_forward(left, right, key="user_id", ts_ms="ts_ms",
                                   value_cols=["purchase_value"])


def j3_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 (Flink DataStream ``intervalJoin`` shape): view pairs with a click
    by the same user within ±12 h of the click — range-bucketed equi-join
    (negative lower bound included), never an all-pairs-per-key blowup."""
    e = _events(spark, sf_dir)
    left = (e.filter(F.col("event_type") == "click")
             .select("user_id", "ts_ms"))
    right = (e.filter(F.col("event_type") == "view")
              .select("user_id", "ts_ms"))
    return joins.interval_join(left, right, key="user_id", ts_ms="ts_ms",
                               lower_ms=-43_200_000, upper_ms=43_200_000)


def st1_interval_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST1 (StatefulOperations.java:87-119): two matching events for the same
    key closer than the threshold → alert with the interval."""
    e = _events(spark, sf_dir)
    return stateful.interval_alerts(e, key="user_id", ts_ms="ts_ms",
                                    event_col="event_type", match_value="error",
                                    threshold_ms=21_600_000,
                                    order_by=["ts_ms", "event_id"])


def st2_action_durations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST2 (CourseUseCase.java:120-176): previous-action duration machine;
    'signup' plays Login (fresh), 'error' plays Logout (clears state)."""
    e = _events(spark, sf_dir)
    return stateful.action_durations(e, key="user_id", ts_ms="ts_ms",
                                     action_col="event_type",
                                     session_start="signup", session_end="error",
                                     order_by=["ts_ms", "event_id"])


# ---------------------------------------------------------------------------
# Structured-Streaming forms, driven end-to-end (SURVEY §2 streaming half).
#
# Each entry materializes `events` as CSV files, streams them back through
# the REAL streaming operator (file source → transform → availableNow →
# memory sink) and returns the sink table — so the driver's DuckDB hash
# compare covers the actual Structured Streaming execution path, not a
# batch stand-in.
# ---------------------------------------------------------------------------

import contextlib as _contextlib
import os as _os
import tempfile as _tempfile
import uuid as _uuid

from .artifacts import cached_artifact


def _events_csv_dir(spark: SparkSession, sf_dir: str) -> str:
    """Write events (event_id, user_id, event_type, ts_ms) as CSV lines for
    the file-monitor source. One file per input partition; cached per
    fixture and code revision."""
    def build(scratch):
        (_events(spark, sf_dir)
         .select("event_id", "user_id", "event_type", "ts_ms")
         .write.mode("overwrite").csv(scratch))
    return cached_artifact("events_csv",
                           [_os.path.join(sf_dir, "events.parquet")], None,
                           (_events_csv_dir,), build)


_EVENTS_CSV_SCHEMA = T.StructType([
    T.StructField("event_id", T.LongType()),
    T.StructField("user_id", T.LongType()),
    T.StructField("event_type", T.StringType()),
    T.StructField("ts_ms", T.LongType()),
])


# State width of every registry stream. A stateful query takes its
# state-store count from spark.sql.shuffle.partitions when it first starts
# (the count is then frozen in the checkpoint's offset log), and each store
# costs a fixed open/commit per micro-batch, so the width should track data
# volume: 8 fits the fixture scale; a cluster deployment sizes it via
# submit conf instead.
_STATE_WIDTH = "8"


def _drain_stream(spark: SparkSession, build, checkpoint: str | None = None):
    """Run one registry stream to completion at :data:`_STATE_WIDTH` and
    return the terminated query (``sinks.run_available_now`` raises on a
    hang). ``build(checkpoint)`` returns the writer. Without
    ``checkpoint`` the drain makes a temporary one and removes it on
    return; pass one the caller reads or reuses afterwards."""
    from .sinks import run_available_now
    with (_contextlib.nullcontext(checkpoint) if checkpoint else
          _tempfile.TemporaryDirectory(prefix="frde_ckpt_")) as ckpt:
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", _STATE_WIDTH)
        try:
            return run_available_now(build(ckpt))
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)


def _run_to_memory(df: DataFrame, spark: SparkSession,
                   output_mode: str = "append") -> DataFrame:
    """Drive a streaming DataFrame to completion into a memory table."""
    from .sinks import memory_sink
    name = "frde_" + _uuid.uuid4().hex[:12]
    _drain_stream(spark, lambda ckpt: memory_sink(df, name, output_mode)
                  .option("checkpointLocation", ckpt))
    return spark.table(name)


def _run_to_parquet(df: DataFrame, spark: SparkSession) -> DataFrame:
    """Drive a streaming DataFrame to completion into a PARQUET sink and
    read the result back — the distributed-output twin of
    :func:`_run_to_memory` for streams whose output is CORPUS-SIZED
    (dynamic sessionization emits ~one row per event): the memory sink
    funnels every row through a single driver collection, which at 100x
    SF dominated the replay wall and is a shape no production stream has
    (K1 file sink is the production contract). Same
    :func:`_drain_stream`; append mode only (the parquet sink's own
    constraint)."""
    out = _tempfile.mkdtemp(prefix="frde_sout_")
    _drain_stream(spark, lambda ckpt: (
        df.writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt).outputMode("append")))
    return spark.read.parquet(out)


def _stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources import file_csv_stream
    path = _events_csv_dir(spark, sf_dir)
    return file_csv_stream(spark, path, _EVENTS_CSV_SCHEMA, quoted=False)


def st1_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST1 streaming form (StatefulOperations.java:87-119) through
    applyInPandasWithState; same oracle as the batch analog."""
    from .streaming.stateful import interval_alerts_stream
    ev = _stream_events(spark, sf_dir)
    out = interval_alerts_stream(ev, key="user_id", ts_ms="ts_ms",
                                 event_col="event_type", match_value="error",
                                 threshold_ms=21_600_000,
                                 order_by=["ts_ms", "event_id"])
    return _run_to_memory(out, spark)


def st1_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST1 through Spark 4's ``transformWithStateInPandas`` handle API
    (StatefulOperations.java:87-119) — the direct ValueStateDescriptor
    analog. Same oracle as ``st1_stream``; registered only when
    ``google.protobuf`` is importable (worker-side state serialization),
    so it costs nothing in containers without it."""
    from .streaming.stateful import interval_alerts_tws
    ev = _stream_events(spark, sf_dir)
    out = interval_alerts_tws(ev, key="user_id", ts_ms="ts_ms",
                              event_col="event_type", match_value="error",
                              threshold_ms=21_600_000,
                              order_by=["ts_ms", "event_id"])
    return _run_to_memory(out, spark)


def _protobuf_available() -> bool:
    try:
        import google.protobuf  # noqa: F401
        return True
    except ImportError:
        return False


def st2_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST2 streaming form (CourseUseCase.java:120-176); same oracle as the
    batch lag analog."""
    from .streaming.stateful import action_durations_stream
    ev = _stream_events(spark, sf_dir)
    out = action_durations_stream(ev, key="user_id", ts_ms="ts_ms",
                                  action_col="event_type",
                                  session_start="signup", session_end="error",
                                  order_by=["ts_ms", "event_id"])
    # Parquet round trip: this machine emits one row PER EVENT, and a
    # corpus-sized output must not funnel through the memory sink's
    # driver collection (see x_dynsession_stream).
    return _run_to_parquet(out, spark)


def a6_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 streaming form: event-time tumbling 1 s count through the
    streaming aggregation path (complete mode emits every window)."""
    from .streaming.pipelines import tumbling_counts
    ev = _stream_events(spark, sf_dir).withColumn(
        "ts", F.timestamp_millis(F.col("ts_ms")))
    out = tumbling_counts(ev, "ts", "1 second")
    return _run_to_memory(out, spark, output_mode="complete")


def a2_stream_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 streaming form (KeyedStreamOperations.java:67-68): per-key running
    totals in update mode; with one availableNow batch the final emission is
    the per-key total."""
    from .streaming.pipelines import running_totals
    ev = _stream_events(spark, sf_dir).withColumn(
        "one", F.lit(1).cast("bigint"))
    out = running_totals(ev, ["user_id"], "one", out_col="total")
    return _run_to_memory(out, spark, output_mode="update")


def j1_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 streaming form (WindowJoins.java:106-121): stream-stream inner
    join of the click/view branches on (user, 1 h window)."""
    from .streaming.pipelines import windowed_join
    ev = _stream_events(spark, sf_dir).withColumn(
        "ts", F.timestamp_millis(F.col("ts_ms")))
    left = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    right = ev.filter(F.col("event_type") == "view").select("user_id", "ts")
    out = windowed_join(left, right, key="user_id", ts_col="ts",
                        size="3600 seconds")
    return _run_to_memory(out, spark)


# Far past any fixture timestamp (year ~2096); advances the final watermark
# beyond every real window so outer-join state fully flushes before the
# availableNow replay terminates.
_FLUSH_TS_MS = 4_000_000_000_000


def _events_csv_dir_flush(spark: SparkSession, sf_dir: str) -> str:
    """Events CSV replay dir + one flush sentinel row (user_id = -1,
    event_type '__flush__', far-future ts). Kept separate from the shared
    replay dir so the sentinel never leaks into other demos' windows;
    base part-files are hardlinked, not copied."""
    def build(scratch):
        base = _events_csv_dir(spark, sf_dir)
        for f in _os.listdir(base):
            if f.endswith(".csv"):
                _os.link(_os.path.join(base, f), _os.path.join(scratch, f))
        with open(_os.path.join(scratch, "zz_flush.csv"), "w") as fh:
            fh.write(f"-1,-1,__flush__,{_FLUSH_TS_MS}\n")
    return cached_artifact("events_csv_flush",
                           [_os.path.join(sf_dir, "events.parquet")], None,
                           (_events_csv_dir_flush, _events_csv_dir), build)


def j5_stream_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-outer windowed stream-stream join — the reference's J1
    (WindowJoins.java:106-121) extended to the outer form real users reach
    for next: every click row survives, matched views attach, unmatched
    clicks emit null ``r_ts_ms`` once the watermark passes their window.

    Determinism under availableNow: outer rows emit on state eviction,
    which is watermark-driven, so a flush sentinel (ts far past every
    fixture window, fed to BOTH sides) pushes the final watermark beyond
    every real window's end — all unmatched rows have flushed by
    termination and the result equals the batch LEFT JOIN oracle. The
    sentinel key (-1) is filtered after the join."""
    from .sources import file_csv_stream
    from .streaming.pipelines import windowed_join
    path = _events_csv_dir_flush(spark, sf_dir)
    ev = (file_csv_stream(spark, path, _EVENTS_CSV_SCHEMA, quoted=False)
          .withColumn("ts", F.timestamp_millis(F.col("ts_ms"))))
    left = (ev.filter(F.col("event_type").isin("click", "__flush__"))
              .select("user_id", "ts"))
    right = (ev.filter(F.col("event_type").isin("view", "__flush__"))
               .select("user_id", "ts"))
    out = windowed_join(left, right, key="user_id", ts_col="ts",
                        size="3600 seconds", how="leftOuter")
    res = _run_to_memory(out, spark)
    return res.filter(F.col("user_id") >= 0)


def x_compact_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming form of x_compact_latest: the continuously-maintained
    upsert view. Same one-aggregate shape — ``max(struct(...))`` per key in
    update mode — so each micro-batch revises only the keys it touched;
    state is one struct per key (bounded by key cardinality, not stream
    length). Same oracle as the batch compaction.

    The replayed CSV carries no ``value`` column, so value is re-derived
    from event_id exactly like j4's replay contract; the oracle does the
    same."""
    ev = _stream_events(spark, sf_dir)
    latest = (ev.groupBy("user_id")
                .agg(F.max(F.struct("ts_ms", "event_id", "event_type"))
                      .alias("m")))
    out = latest.select(
        "user_id", F.col("m.ts_ms").alias("ts_ms"),
        F.col("m.event_id").alias("event_id"),
        F.col("m.event_type").alias("event_type"))
    return _run_to_memory(out, spark, output_mode="complete")


def x_cep_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CEP (Flink CEP.pattern begin('view').next('click')
    .next('purchase').within(24h) analog) through a REAL
    applyInPandasWithState state machine over the events CSV replay —
    per-key state buffers the last two events, so matches spanning
    micro-batches emit; same oracle as the batch lead()-window form
    x_cep_pattern."""
    from .streaming.stateful import sequence_match_stream
    ev = _stream_events(spark, sf_dir)
    out = sequence_match_stream(ev, ["view", "click", "purchase"],
                                within_ms=86_400_000, key="user_id",
                                ts_ms="ts_ms", type_col="event_type",
                                id_col="event_id")
    return _run_to_memory(out, spark)


def j4_stream_static(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join — the Structured Streaming pattern the
    stream-stream demos don't cover: each micro-batch of the (streaming)
    events CSV replay joins a STATIC bands dim via the broadcast
    containment join of x_range_lookup, then aggregates per band in
    update mode. No watermark and no stream-stream state: the static side
    is re-broadcast per micro-batch, state is only the running aggregate.
    Oracle = the batch band rollup restricted to the replayed columns."""
    bands = spark.createDataFrame(_BANDS, "band_id int, lo double, hi double")
    ev = _stream_events(spark, sf_dir)
    # the CSV replay carries (event_id, user_id, event_type, ts_ms); value
    # is re-derived deterministically from event_id so the oracle can too
    fact = ev.select("event_id",
                     (F.col("event_id") % 500).cast("double").alias("value"))
    hit = joins.range_lookup(fact, bands, "value")
    out = (hit.groupBy(F.col("band_id").cast("bigint").alias("band_id"))
              .agg(F.count(F.lit(1)).alias("n_events"),
                   F.sum(F.col("event_id")).alias("sum_event_id")))
    return _run_to_memory(out, spark, output_mode="complete")


def a3_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 streaming form (WindowingOperations.java:77-92): 10 s / 5 s
    sliding count+min+max through the streaming aggregation path (complete
    mode emits every window); same oracle as the batch form."""
    from .streaming.pipelines import sliding_counts
    ev = _stream_events(spark, sf_dir).withColumn(
        "ts", F.timestamp_millis(F.col("ts_ms")))
    out = sliding_counts(ev, "ts", "10 seconds", "5 seconds",
                         aggs=[F.count(F.lit(1)).alias("cnt"),
                               F.min("ts_ms").alias("min_ts_ms"),
                               F.max("ts_ms").alias("max_ts_ms")])
    return _run_to_memory(out, spark, output_mode="complete")


def a5_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 streaming form (CourseUseCase.java:90-104): composite-key 10 s
    tumbling count through the streaming aggregation path; same oracle as
    the batch form."""
    from .streaming.pipelines import tumbling_counts
    ev = _stream_events(spark, sf_dir).withColumn(
        "ts", F.timestamp_millis(F.col("ts_ms")))
    out = tumbling_counts(ev, "ts", "10 seconds",
                          keys=["user_id", "event_type"],
                          aggs=[F.count(F.lit(1)).alias("cnt")])
    return _run_to_memory(out, spark, output_mode="complete")


def a4_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 streaming form (WindowingOperations.java:115-128): keyed 1 h
    session windows through the streaming merge path. Append mode emits only
    FINALIZED sessions (end + gap <= terminal watermark = max event time);
    the oracle applies the same finalization filter — Spark's session
    windows do not support update mode, so this asymmetry is the honest
    streaming semantics, not a shortcut."""
    from .streaming.pipelines import session_counts
    ev = _stream_events(spark, sf_dir).withColumn(
        "ts", F.timestamp_millis(F.col("ts_ms")))
    out = session_counts(ev, "ts", "3600 seconds", keys=["user_id"],
                         aggs=[F.count(F.lit(1)).alias("cnt"),
                               F.min("ts_ms").alias("min_ts_ms"),
                               F.max("ts_ms").alias("max_ts_ms")])
    return _run_to_memory(out, spark)


def j2_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 streaming form (Flink temporal join): clicks matched to the
    latest purchase at-or-before via O(1)-per-key state; raw purchase rows
    feed the machine (equal-ts overwrite-ascending reproduces the batch
    form's max-per-(user,ts) pre-agg). Same oracle as j2_asof_join."""
    from .streaming.stateful import asof_join_stream
    ev = _stream_events(spark, sf_dir)
    left = (ev.filter(F.col("event_type") == "click")
              .select("user_id", "ts_ms", "event_id"))
    # the CSV fixture carries no `value` column — event_id stands in as the
    # purchase value (equal-ts ties resolve to max, mirrored in the oracle)
    right = (ev.filter(F.col("event_type") == "purchase")
               .select("user_id", "ts_ms",
                       F.col("event_id").cast("double").alias("purchase_value")))
    out = asof_join_stream(left, right, key="user_id", ts_ms="ts_ms",
                           value_col="purchase_value",
                           left_cols=["event_id"])
    return _run_to_memory(out, spark)


def j3_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 streaming form (Flink ``intervalJoin``): click-vs-view pairs within
    ±12 h through a watermarked stream-stream range join; same oracle as the
    batch bucketed form."""
    from .streaming.pipelines import interval_join_stream
    ev = _stream_events(spark, sf_dir).withColumn(
        "ts", F.timestamp_millis(F.col("ts_ms")))
    left = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    right = ev.filter(F.col("event_type") == "view").select("user_id", "ts")
    out = interval_join_stream(left, right, key="user_id", ts_col="ts",
                               lower_ms=-43_200_000, upper_ms=43_200_000)
    return _run_to_memory(out, spark)


# ---------------------------------------------------------------------------
# Relational / bench plans
# ---------------------------------------------------------------------------

def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    return relational.pricing_summary(_prep(spark), sf_dir)


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    return relational.shipping_priority(_prep(spark), sf_dir)


def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    return relational.local_supplier_volume(_prep(spark), sf_dir)


def q7_two_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    return relational.two_nation_volume(_prep(spark), sf_dir)


def q18_large_quantity_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return relational.large_quantity_orders(_prep(spark), sf_dir)


def q_top_parts_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    return relational.top_parts_per_brand(_prep(spark), sf_dir)


def q_distinct_users_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    return relational.distinct_users_per_type(_prep(spark), sf_dir)


def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    return relational.order_priority_check(_prep(spark), sf_dir)


def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    return relational.promo_revenue(_prep(spark), sf_dir)


def q22_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    return relational.idle_rich_customers(_prep(spark), sf_dir)


def q19_disjunctive_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    return relational.disjunctive_part_revenue(_prep(spark), sf_dir)


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    return relational.forecast_revenue(_prep(spark), sf_dir)


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    return relational.returned_item_revenue(_prep(spark), sf_dir)


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    return relational.nation_market_share(_prep(spark), sf_dir)


def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return relational.product_type_profit(_prep(spark), sf_dir)


def q12_ship_lag_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    return relational.ship_lag_priority(_prep(spark), sf_dir)


def q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    return relational.customer_order_distribution(_prep(spark), sf_dir)


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    return relational.top_supplier(_prep(spark), sf_dir)


def q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    return relational.small_quantity_revenue(_prep(spark), sf_dir)


def q_returns_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    return relational.returns_cube(_prep(spark), sf_dir)


def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    return relational.min_cost_supplier(_prep(spark), sf_dir)


def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return relational.important_parts(_prep(spark), sf_dir)


def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return relational.supplier_part_counts(_prep(spark), sf_dir)


def q20_prolific_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    return relational.prolific_suppliers(_prep(spark), sf_dir)


def q21_waiting_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return relational.waiting_orders(_prep(spark), sf_dir)


def x_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature resampling toward a uniform source mixture (τ=0.5):
    per-source keep probabilities broadcast into one map-side hash-draw
    filter — no collect, no corpus shuffle."""
    return packing.temperature_sample(_docs(spark, sf_dir), tau=0.5)


def x_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view→click→purchase funnel over events: chained
    conditional-min windows on ONE user-partition shuffle."""
    return funnel.funnel_counts(_events(spark, sf_dir),
                                steps=["view", "click", "purchase"])


def x_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-week cohort retention over events (first-event cohorts)."""
    return funnel.retention_cohorts(_events(spark, sf_dir))


def x_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ distinct users per event type, certification form: the
    Spark-private sketch runs AND is audited against the exact count in
    the same aggregation; output is (exact, within-3σ boolean), which the
    DuckDB oracle replays exactly — converting the former rows-only row
    into a hash-checked invariant (the x_lsh_recall pattern). Sketch-only
    twin: functions/sketches.approx_distinct_per_group; portable-register
    twin: x_hll_portable."""
    return sketches.approx_distinct_check(
        _events(spark, sf_dir), "event_type", "user_id")


def x_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percentile_approx per event type, certification form: each sketch
    quantile is re-ranked against its group and the Greenwald-Khanna rank
    guarantee emitted as booleans, hash-checkable cross-engine (exact twin
    x_group_quantiles; estimate-emitting twin
    functions/sketches.approx_group_quantiles)."""
    return sketches.approx_quantile_rank_check(
        _events(spark, sf_dir), "event_type", "value")


def x_quality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style head/middle/tail corpus partition by mean unigram
    log-probability; exact-integer ranking key so the tercile boundaries
    hash-match the oracle's NTILE."""
    return text.quality_buckets(_docs(spark, sf_dir), n_buckets=3)


def x_group_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fixed-size per-source sample (reservoir analog):
    k smallest md5 draws per stratum, reproducible across engines."""
    return sketches.group_sample(
        _docs(spark, sf_dir).select("doc_id", "source"),
        strata_col="source", key_col="doc_id", k=5)


_BANDS = [(i, float(i * 50), float((i + 1) * 50)) for i in range(10)]


def x_range_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast band lookup (IP→geo / price→tier shape): events.value
    mapped into 10 static half-open bands via a non-equi broadcast join
    that stays map-side; per-band count + exact fixed-point value sum."""
    bands = spark.createDataFrame(_BANDS, "band_id int, lo double, hi double")
    fact = _events(spark, sf_dir).select("event_id", "value")
    hit = joins.range_lookup(fact, bands, "value")
    return (hit.groupBy(F.col("band_id").cast("bigint").alias("band_id"))
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum(F.round(F.col("value") * 10000).cast("bigint"))
                  .alias("value_e4"))
            .orderBy("band_id"))


def x_json_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed JSON extraction (from_json with explicit schema, map-side)
    + per-type aggregate over the events props column."""
    return stats.json_props_stats(_events(spark, sf_dir))


def x_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VariantType extraction over the events props column:
    parse_json once (open schema, binary encoding), try_variant_get the
    typed path — the schema-free twin of x_json_stats."""
    return stats.variant_props_stats(_events(spark, sf_dir))


def x_pivot_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long→wide pivot with explicit value list: events per (day, type)
    as one conditional-count aggregate."""
    e = _events(spark, sf_dir).withColumn(
        "day_ms", (F.floor(F.col("ts_ms") / 86400000) * 86400000)
        .cast("bigint"))
    return stats.pivot_counts(
        e, "day_ms", "event_type",
        ["view", "click", "purchase", "signup", "error"])
