"""Event time & watermarks (SURVEY §2.6 W1-W4).

W1 — bounded out-of-orderness: ``WatermarkStrategy.forBoundedOutOfOrderness``
(chapter4/EventTimeOperations.java:82-94) maps directly to
``withWatermark(ts, delay)``.

W2 — the reference's custom wall-clock watermark generator
(EventTimeOperations.java:96-141) has NO public Structured Streaming
equivalent: Spark computes the watermark as min(max event time per
partition) - delay at micro-batch boundaries. Documented semantic gap; the
bounded strategy is the supported path. The policy ITSELF is emulated with
an oracle by :func:`processing_time_watermark_replay` — a deterministic
replay of the reference's exact recurrence (refresh the watermark to the
current wall-clock at most every ``delay``; emit ``refresh - buffer``
after every event) over a jittered-arrival model, classifying each event
on-time/late exactly as the Flink operator would have.

W3 — late-data side output (EventTimeOperations.java:148-176). Spark DROPS
rows behind the watermark silently, and inside ``foreachBatch`` the plan
runs as a batch plan where ``withWatermark`` is a no-op — so the capture
cannot lean on the engine's watermark alone. :class:`LateDataCapture`
therefore tracks the SAME bounded-out-of-orderness watermark Flink's
strategy defines: ``wm = max(event time seen) - delay``, advanced at batch
boundaries (batch N is judged against the watermark as of the end of batch
N-1 — exactly when Flink's periodic generator would have emitted it). When
bound to a running aggregation query it additionally folds in the engine's
progress watermark, so the split always matches what the windowed agg
actually dropped. The watermark persists to a JSON state file so restarts
(availableNow re-runs) keep judging against the prior high-water mark.

W4 — no watermark: simply don't call ``withWatermark``.
"""

from __future__ import annotations

import json
from datetime import datetime, timezone
from pathlib import Path

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming import StreamingQuery


class LateDataCapture:
    """W3: route late rows to a side output instead of silently dropping.

    Use as the ``foreachBatch`` function of a streaming query whose rows
    carry event time in ``ts_col`` (TimestampType or epoch-ms long). Each
    batch splits on ``ts <= watermark``: on-time rows go to ``on_time_fn``,
    late rows accumulate in :attr:`late_rows` (and a production caller would
    write them to a dead-letter sink inside ``on_late_fn``).

    The watermark is bounded-out-of-orderness over everything seen so far
    (Flink parity: EventTimeOperations.java:82-94), optionally maxed with a
    bound query's engine-reported progress watermark, and persisted to
    ``state_path`` for restart continuity.
    """

    def __init__(self, ts_col: str, delay_ms: int = 0, on_time_fn=None,
                 on_late_fn=None, state_path: str | None = None,
                 spill_path: str | None = None,
                 max_memory_rows: int = 10_000):
        self.ts_col = ts_col
        self.delay_ms = delay_ms
        self.on_time_fn = on_time_fn
        self.on_late_fn = on_late_fn
        self.state_path = Path(state_path) if state_path else None
        # At scale late volume is unbounded; the driver keeps at most
        # ``max_memory_rows`` as a debugging sample and streams the full
        # late set to ``spill_path`` (parquet, append-per-batch) — the
        # dead-letter sink a production job reads back.
        self.spill_path = spill_path
        self.max_memory_rows = max_memory_rows
        self.late_rows: list = []
        self.late_count = 0
        self.query: StreamingQuery | None = None
        self._wm_ms = 0
        if self.state_path and self.state_path.exists():
            self._wm_ms = json.loads(self.state_path.read_text())["watermark_ms"]

    # -- watermark bookkeeping ------------------------------------------
    def _ts_ms(self):
        return F.unix_millis(F.col(self.ts_col).cast("timestamp"))

    def _fold_progress(self) -> None:
        q = self.query
        if q is not None and q.lastProgress:
            wm = q.lastProgress.get("eventTime", {}).get("watermark")
            if wm:
                dt = datetime.strptime(wm.replace("Z", "+0000"),
                                       "%Y-%m-%dT%H:%M:%S.%f%z")
                self._wm_ms = max(self._wm_ms,
                                  int(dt.astimezone(timezone.utc)
                                        .timestamp() * 1000))

    def _persist(self) -> None:
        if self.state_path:
            self.state_path.parent.mkdir(parents=True, exist_ok=True)
            self.state_path.write_text(json.dumps({"watermark_ms": self._wm_ms}))

    @property
    def watermark_ms(self) -> int:
        return self._wm_ms

    # -- foreachBatch entry point ---------------------------------------
    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        self._fold_progress()
        wm = self._wm_ms
        ts = self._ts_ms()
        # One materialization of the batch: every downstream action (late
        # collect, on_time_fn, max-ts) re-executes the plan otherwise —
        # 3-4x source reads per micro-batch on the hot path.
        batch_df.persist()
        try:
            late = batch_df.filter(ts <= F.lit(wm)) if wm > 0 else None
            on_time = batch_df.filter(ts > F.lit(wm)) if wm > 0 else batch_df
            if late is not None:
                n_late = late.count()
                if n_late:
                    self.late_count += n_late
                    if self.spill_path:
                        late.write.mode("append").parquet(self.spill_path)
                    room = self.max_memory_rows - len(self.late_rows)
                    if room > 0:
                        self.late_rows.extend(late.limit(room).collect())
                    if self.on_late_fn is not None:
                        self.on_late_fn(late, batch_id)
            if self.on_time_fn is not None:
                self.on_time_fn(on_time, batch_id)
            # Advance AFTER the split: batch N judged against end-of-batch-N-1.
            max_ts = batch_df.agg(F.max(ts)).collect()[0][0]
            if max_ts is not None:
                self._wm_ms = max(self._wm_ms, int(max_ts) - self.delay_ms)
        finally:
            batch_df.unpersist()
        self._persist()

    def bind(self, query: StreamingQuery) -> StreamingQuery:
        """Attach the running query so engine progress watermarks fold in."""
        self.query = query
        return query

    def finalize(self) -> int:
        """Fold the FINAL batch's engine watermark and persist it — call
        after ``awaitTermination``. ``_fold_progress`` inside the batch
        callback can only ever see the previous batch's progress (the
        current batch's watermark is published after foreachBatch
        returns), so without this a shutdown loses the last batch's
        engine watermark and a restarted job re-admits rows that batch
        had already sealed off. Returns the persisted watermark_ms."""
        self._fold_progress()
        self._persist()
        return self._wm_ms


def processing_time_watermark_replay(df: DataFrame, key_col: str,
                                     id_col: str, ts_col: str,
                                     arrival_col: str,
                                     delay_ms: int, buffer_ms: int
                                     ) -> DataFrame:
    """W2 emulated-with-oracle: deterministically replay the reference's
    hand-rolled PROCESSING-time watermark generator
    (EventTimeOperations.java:96-141) and classify every event
    on-time/late exactly as the Flink operator would have.

    The reference policy, per stream partition: keep ``cw`` (the last
    wall-clock refresh, 0 = unset); on each event at wall-clock ``now``,
    if ``cw`` unset set ``cw = now``, else if ``now - cw > delay``
    re-anchor ``cw = now``; then emit watermark ``cw - buffer``. Because
    Flink emits the watermark AFTER the event, event *j* is judged
    against the watermark emitted after event *j-1* (the first event of
    a partition is always on-time), and an event is LATE iff its EVENT
    time is strictly below that watermark.

    Replay model: ``arrival_col`` stands in for wall-clock (the
    x_watermark_sweep jittered-arrival convention — deterministic, so
    both engines see the same schedule); events replay per ``key_col``
    in ``(arrival, id)`` order — one replay per key, the exact analog of
    Flink's per-subtask watermark generators. Output one row per key:
    (key, n_events, n_late, n_refresh, wm_final_ms).

    Scale shape: ``applyInPandas`` grouped on the stream key — Arrow
    batches, one sequential pass per key (the recurrence is inherently
    serial per partition, exactly as in the real operator), keys spread
    across executors. The oracle replays the same recurrence via its
    refresh-point characterization: refreshes are >= ``delay`` apart, so
    the refresh set is small and a recursive CTE walks refresh-to-next-
    refresh (min arrival strictly past ``prev + delay``) instead of
    event-to-event.
    """
    import pandas as pd

    out_schema = (f"{key_col} string, n_events bigint, n_late bigint, "
                  f"n_refresh bigint, wm_final_ms bigint")

    def _replay(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values([arrival_col, id_col])
        cw = None          # last wall-clock refresh (None = unset)
        wm = None          # watermark in effect (emitted after prev event)
        n_late = n_refresh = 0
        for a, t in zip(pdf[arrival_col].to_numpy(),
                        pdf[ts_col].to_numpy()):
            if wm is not None and t < wm:
                n_late += 1
            if cw is None or a - cw > delay_ms:
                cw = int(a)
                n_refresh += 1
            wm = cw - buffer_ms
        return pd.DataFrame({key_col: [pdf[key_col].iloc[0]],
                             "n_events": [len(pdf)],
                             "n_late": [n_late],
                             "n_refresh": [n_refresh],
                             "wm_final_ms": [wm]})

    return (df.select(key_col, id_col, ts_col, arrival_col)
              .groupBy(key_col).applyInPandas(_replay, out_schema))
