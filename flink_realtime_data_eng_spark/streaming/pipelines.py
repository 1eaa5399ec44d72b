"""Streaming windowed aggregations & joins (streaming forms of A1-A6, J1).

The reference's windows are processing-time: records are windowed on
arrival wall-clock (TumblingProcessingTimeWindows — MapCountPrinter.java:24,
WindowingOperations.java:84-86,123). Spark has no processing-time window
assigner, so :func:`stamp_arrival` stamps ``current_timestamp()`` at ingest
and the same ``window()``/``session_window()`` expressions group on it —
semantically "the 5 s bucket the record arrived in". Tests instead pass an
explicit event-time column (SURVEY §5: never wall clock in assertions);
the window math is identical either way.

Every aggregation here works under ``availableNow`` + memory sink for
deterministic tests, and under ``ProcessingTime`` triggers in production.
State cleanup: all event-time aggs take a watermark (delay='0 seconds'
gives the reference's "no allowed lateness" behavior while still letting
Spark finalize and evict window state — mandatory for append-mode sinks
and for bounded state at 100 TB).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, functions as F

from ..sinks import run_available_now


def stamp_arrival(df: DataFrame, col_name: str = "arrival_ts") -> DataFrame:
    """Processing-time semantics: stamp wall-clock arrival time at ingest
    (the Spark analog of a ProcessingTime window assigner's clock)."""
    return df.withColumn(col_name, F.current_timestamp())


def _windowed_agg(df: DataFrame, window_expr: Column, ts_col: str,
                  watermark: str, keys: Sequence[str],
                  aggs: Sequence[Column], out_start: str) -> DataFrame:
    wdf = df.withWatermark(ts_col, watermark)
    agg_list = list(aggs) or [F.count(F.lit(1)).alias("cnt")]
    out = wdf.groupBy(window_expr.alias("w"), *keys).agg(*agg_list)
    rest = [c for c in out.columns if c not in ("w", *keys)]
    return out.select(F.unix_millis("w.start").alias(out_start), *keys, *rest)


def tumbling_counts(df: DataFrame, ts_col: str, size: str,
                    keys: Sequence[str] = (), watermark: str = "0 seconds",
                    aggs: Sequence[Column] = ()) -> DataFrame:
    """Streaming A1/A5/A6: tumbling-window agg (global when keys empty).

    Parity: MapCountPrinter.java:15-34 (A1, 5 s), CourseUseCase.java:90-104
    (A5, keyed 10 s), EventTimeOperations.java:151-160 (A6, event-time 1 s).
    The watermark both admits late data (delay > 0) and lets the state store
    evict finalized windows.
    """
    return _windowed_agg(df, F.window(ts_col, size), ts_col, watermark,
                         keys, aggs, "window_start_ms")


def sliding_counts(df: DataFrame, ts_col: str, size: str, slide: str,
                   keys: Sequence[str] = (), watermark: str = "0 seconds",
                   aggs: Sequence[Column] = ()) -> DataFrame:
    """Streaming A3: sliding window (WindowingOperations.java:77-92)."""
    return _windowed_agg(df, F.window(ts_col, size, slide), ts_col, watermark,
                         keys, aggs, "window_start_ms")


def session_counts(df: DataFrame, ts_col: str, gap: str,
                   keys: Sequence[str] = (), watermark: str = "0 seconds",
                   aggs: Sequence[Column] = ()) -> DataFrame:
    """Streaming A4: keyed session windows (WindowingOperations.java:115-128).
    ``session_window`` requires a watermark in streaming (merging sessions
    finalize only when the watermark passes gap end)."""
    return _windowed_agg(df, F.session_window(ts_col, gap), ts_col, watermark,
                         keys, aggs, "session_start_ms")


def running_totals(df: DataFrame, keys: Sequence[str], value: str,
                   out_col: str = "running_total") -> DataFrame:
    """Streaming A2 (KeyedStreamOperations.java:67-68): per-key cumulative
    sum re-emitted on every trigger. Run with ``outputMode('update')`` + a
    memory/console sink: each micro-batch emits the keys it updated — the
    Spark analog of Flink's per-record reduce emission."""
    return df.groupBy(*keys).agg(F.sum(value).alias(out_col))


def windowed_join(left: DataFrame, right: DataFrame, key: str, ts_col: str,
                  size: str, watermark: str = "0 seconds",
                  how: str = "inner") -> DataFrame:
    """Streaming J1 (WindowJoins.java:106-121): equi-join of two streams on
    (key, same tumbling window); ``how='leftOuter'`` adds the unmatched-left
    rows (null right columns) once the watermark proves no match can arrive.

    Both sides are watermarked and the join includes the window equality, so
    Spark derives the state-retention bound and evicts join state once the
    watermark passes a window — bounded state at any scale. Outer results
    piggyback on that same eviction: a left row emits with nulls exactly
    when its window's state expires, so outer timing is watermark-driven
    and deterministic under an availableNow replay whose final watermark
    passes every real window (see j5_stream_outer's flush sentinel).
    """
    # Only ONE event-time column may survive per side: the window struct
    # inherits the watermark tag, so the raw ts is demoted to epoch-ms long.
    lw = (left.withWatermark(ts_col, watermark)
              .select(F.col(key), F.window(ts_col, size).alias("w"),
                      F.unix_millis(ts_col).alias("l_ts_ms")))
    rw = (right.withWatermark(ts_col, watermark)
               .select(F.col(key).alias(f"r_{key}"),
                       F.window(ts_col, size).alias("r_w"),
                       F.unix_millis(ts_col).alias("r_ts_ms")))
    joined = lw.join(rw, (F.col(key) == F.col(f"r_{key}"))
                     & (F.col("w") == F.col("r_w")), how)
    # Spark accepts 'leftSemi' / 'left_semi' / 'semi' (and the outer-join
    # spellings) as aliases; normalize before branching so every spelling
    # takes the right select for its column set.
    norm = how.replace("_", "").lower()
    if norm in ("fullouter", "full", "outer"):
        # Either side may be the unmatched one: key and window come from
        # whichever side exists. Right-unmatched rows emit with null
        # l_ts_ms exactly when the watermark evicts their window's state,
        # symmetric to the left-outer timing documented above.
        return joined.select(
            F.coalesce(F.col(key), F.col(f"r_{key}")).alias(key),
            F.unix_millis(F.coalesce(F.col("w.start"), F.col("r_w.start")))
             .alias("window_start_ms"),
            "l_ts_ms", "r_ts_ms")
    if norm in ("leftsemi", "semi"):
        # Semi join keeps only left columns: each left row emits at most
        # once, as soon as any match arrives — existence, not pairing, so
        # no per-match state blowup on hot keys and no watermark wait for
        # the emit (inner-like timing, deterministic under availableNow).
        return joined.select(key,
                             F.unix_millis(F.col("w.start"))
                              .alias("window_start_ms"),
                             "l_ts_ms")
    return joined.select(key, F.unix_millis(F.col("w.start")).alias("window_start_ms"),
                         "l_ts_ms", "r_ts_ms")


def interval_join_stream(left: DataFrame, right: DataFrame, key: str,
                         ts_col: str, lower_ms: int, upper_ms: int,
                         watermark: str = "0 seconds") -> DataFrame:
    """Streaming interval join (Flink DataStream ``intervalJoin``): pairs with
    the same key and ``l.ts + lower <= r.ts <= l.ts + upper``, as a
    stream-stream inner join whose join condition carries the time range.

    This is Spark's canonical bounded-state shape for range joins: both
    sides are watermarked and the range appears IN the join condition, so
    the engine derives each side's state-retention bound (watermark minus
    the opposite bound) and evicts rows the range can no longer reach —
    state stays proportional to ``|range| x arrival rate`` at any scale,
    never to total stream history.
    """
    lw = (left.withWatermark(ts_col, watermark)
              .select(F.col(key), F.col(ts_col).alias("l_ts")))
    rw = (right.withWatermark(ts_col, watermark)
               .select(F.col(key).alias(f"r_{key}"),
                       F.col(ts_col).alias("r_ts")))
    cond = ((F.col(key) == F.col(f"r_{key}"))
            & (F.col("r_ts") >= F.col("l_ts") + F.expr(f"INTERVAL {lower_ms} MILLISECONDS"))
            & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {upper_ms} MILLISECONDS")))
    return (lw.join(rw, cond)
              .select(key, F.unix_millis("l_ts").alias("l_ts_ms"),
                      F.unix_millis("r_ts").alias("r_ts_ms")))


def incremental_rollup(stream_df: DataFrame, spark, group_cols: Sequence[str],
                       measure_col: str) -> DataFrame:
    """Streaming materialized-view maintenance: drive ``stream_df`` to
    completion (availableNow), merging each micro-batch's partial
    aggregates into a running rollup keyed by ``group_cols`` — the
    foreachBatch MERGE pattern that keeps a 100 TB dashboard table fresh
    without ever re-reading history.

    Each batch aggregates to (cnt, sum, min, max) partials — all
    decomposable, so merge = union + re-aggregate touches only
    |MV| + |batch partials| rows regardless of stream history, and the
    result is independent of how the replay was batched (the
    merge-correctness property the oracle proves against raw input).
    The MV persists across batches via ``localCheckpoint`` (executor
    storage); a production deployment writes a transactional table
    (Delta/Iceberg MERGE or the commit-manifest sink) instead — the
    merge algebra is identical.

    Returns the final MV DataFrame: group_cols + (cnt, sum_m, min_m, max_m).
    """
    import tempfile

    state: dict[str, DataFrame | None] = {"mv": None}

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        part = (batch_df.groupBy(*group_cols)
                .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"),
                     F.sum(measure_col).cast("bigint").alias("sum_m"),
                     F.min(measure_col).cast("bigint").alias("min_m"),
                     F.max(measure_col).cast("bigint").alias("max_m")))
        mv = state["mv"]
        merged = part if mv is None else (
            mv.unionByName(part).groupBy(*group_cols)
              .agg(F.sum("cnt").cast("bigint").alias("cnt"),
                   F.sum("sum_m").cast("bigint").alias("sum_m"),
                   F.min("min_m").cast("bigint").alias("min_m"),
                   F.max("max_m").cast("bigint").alias("max_m")))
        state["mv"] = merged.localCheckpoint(eager=True)

    with tempfile.TemporaryDirectory(prefix="frde_mv_ckpt_") as ckpt:
        run_available_now(stream_df.writeStream.foreachBatch(merge)
                          .option("checkpointLocation", ckpt))
    mv = state["mv"]
    if mv is None:  # empty stream: zero-row MV with the right schema
        mv = (spark.createDataFrame([], stream_df.schema)
              .groupBy(*group_cols)
              .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"),
                   F.sum(measure_col).cast("bigint").alias("sum_m"),
                   F.min(measure_col).cast("bigint").alias("min_m"),
                   F.max(measure_col).cast("bigint").alias("max_m")))
    return mv
