"""Stream workload: the chapter-6 course job under an open-loop generator.

``jobs.course_use_case`` builds two queries over one landing directory:
keyed 10 s event-time tumbling counts (JVM state store) and the
Login->Logout action-duration machine (Python ``applyInPandasWithState``).
Each query's sink is a ``foreachBatch`` that calls ``sinks.publish_batch``,
the commit-manifest sink.

Phases, after set-up:

1. catch-up: the queries start cold on a landing directory that already
   holds a fixed backlog, as a job restarted after an outage would; timed
   until both have committed every backlog file;
2. live: a separate generator process writes files on a fixed schedule for
   the run's seconds. An event's latency runs from its timestamp (the
   moment it was due) to the commit of the micro-batch that held it, taking
   the later of the two queries;
3. stop: the generator ends, both queries process what is available and
   stop, and the published sink contents are checked against DuckDB.

Which file went into which batch is read from each query's file-source log
(``sources/0/``); commit times come from the queries' progress events.
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import os
import subprocess
import sys
import time
import traceback

import layers
import oracle
import streamgen

BACKLOG_FILES = 20
FILE_INTERVAL_S = 0.25
# Set-up here is a bare session and warm-up, about 2.5 s on 4 cores, and
# its time varies more between repeats than the batch set-up does; more
# repeats steady the reported median at little cost.
SETUPS = 5


def _iso_s(ts: str) -> float:
    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def _source_log(checkpoint: str) -> dict[str, int]:
    """Landing file name -> batch id, from the file source's metadata log
    (plain and compacted entries)."""
    out = {}
    for path in glob.glob(os.path.join(checkpoint, "sources", "0", "*")):
        if os.path.basename(path).startswith("."):
            continue
        with open(path) as fh:
            for line in fh:
                line = line.strip()
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def _batch_watermark(checkpoint: str, sink: str) -> int:
    """Event-time watermark (ms) that the newest batch published to
    ``sink`` ran with, from the query's offset log."""
    last = max(int(os.path.basename(m)[6:-5]) for m in
               glob.glob(os.path.join(sink, "_manifests", "batch-*.json")))
    with open(os.path.join(checkpoint, "offsets", str(last))) as fh:
        meta = json.loads(fh.read().splitlines()[1])
    return int(meta["batchWatermarkMs"])


class Progress:
    """Collects every query progress record, keyed by query name."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        rec = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = json.loads(event.progress.json)
                rec.by_query.setdefault(p["name"], []).append(p)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                if event.exception:
                    rec.errors.append(event.exception)

        self.by_query: dict[str, list[dict]] = {}
        self.errors: list[str] = []
        self.listener = Listener()

    def commits(self, name: str) -> dict[int, float]:
        """batch id -> commit time (epoch seconds)."""
        return {p["batchId"]: _iso_s(p["timestamp"]) + p["durationMs"]["triggerExecution"] / 1e3
                for p in self.by_query.get(name, [])}


class StreamRun:
    def __init__(self, bench):
        self.b = bench
        w = bench.work
        self.landing = str(w / "landing")
        self.dirs = {k: str(w / k) for k in
                     ("sink_counts", "sink_durations", "ckpt_counts", "ckpt_durations")}
        self.publish_s: list[float] = []
        self.errors: list[str] = []

    def prepare(self) -> None:
        """Write the backlog (not timed). Its events end before the live
        phase starts, so no event is late."""
        now_ms = int(time.time() * 1000)
        step = 600_000 // self.b.backlog_events
        streamgen.write_block(self.landing, "backlog", streamgen.EventSource(self.b.seed),
                              self.b.seed, self.b.backlog_events, BACKLOG_FILES,
                              now_ms - 600_000, step, 0)

    def _publisher(self, path: str, query: str):
        from flink_realtime_data_eng_spark import sinks
        tracer = self.b.tracer

        def publish(batch_df, batch_id: int) -> None:
            t0 = time.time()
            with tracer.span("sinks.publish_batch", f"{query}:{batch_id}"):
                sinks.publish_batch(batch_df, path, batch_id)
            self.publish_s.append(time.time() - t0)
        return publish

    def start(self, df, name: str):
        return (df.writeStream.foreachBatch(self._publisher(self.dirs[f"sink_{name}"], name))
                .option("checkpointLocation", self.dirs[f"ckpt_{name}"])
                .queryName(name).start())

    def uncommitted(self, commits_seen: dict[str, set]) -> int:
        """Landing files not yet committed by both queries."""
        names = {os.path.basename(p) for p in glob.glob(os.path.join(self.landing, "*.csv"))}
        done = None
        for q in ("counts", "durations"):
            log = _source_log(self.dirs[f"ckpt_{q}"])
            mine = {f for f, bid in log.items() if bid in commits_seen[q]}
            done = mine if done is None else done & mine
        return len(names - (done or set()))


def run(bench) -> dict:
    from flink_realtime_data_eng_spark import jobs

    sr = StreamRun(bench)
    sr.prepare()
    bench.phase("prepare")
    spark = bench.setup(lambda spark: None, runs=SETUPS)
    tracer = bench.tracer

    progress = Progress()
    spark.streams.addListener(progress.listener)
    t0 = time.perf_counter()
    with tracer.span("jobs.course_use_case", "setup"):
        counts, durations = jobs.course_use_case(spark, sr.landing)
    construct_ms = (time.perf_counter() - t0) * 1e3

    # Catch-up: the queries start with the backlog already landed.
    t_catch = time.time()
    queries = {"counts": sr.start(counts, "counts"),
               "durations": sr.start(durations, "durations")}
    errors = sr.errors

    def drain() -> None:
        for name, q in queries.items():
            try:
                q.processAllAvailable()
            except Exception:
                errors.append(f"{name}: {traceback.format_exc(limit=2)}")

    drain()
    catch_done = t_catch
    for name in queries:
        log = _source_log(sr.dirs[f"ckpt_{name}"])
        commits = progress.commits(name)
        bids = {bid for f, bid in log.items() if f.startswith("backlog-")}
        if len(log) < BACKLOG_FILES or not bids <= commits.keys():
            errors.append(f"{name}: backlog not committed after catch-up")
            continue
        catch_done = max(catch_done, max(commits[b] for b in bids))
    catch_s = catch_done - t_catch
    bench.phase("catch_up")
    n_backlog_batches = {n: len(progress.by_query.get(n, [])) for n in queries}

    # Live phase: open-loop generator in its own process.
    report = str(bench.work / "gen_report.json")
    live_start = time.time() + 0.5
    gen = subprocess.Popen(
        [sys.executable, os.path.join(os.path.dirname(__file__), "streamgen.py"),
         "--landing", sr.landing, "--report", report, "--seed", str(bench.seed),
         "--start", repr(live_start), "--rate", repr(bench.rate),
         "--seconds", repr(float(bench.seconds)), "--interval", repr(FILE_INTERVAL_S),
         "--first-id", str(bench.backlog_events)])
    bench.memory.exclude.add(gen.pid)
    backlog_series = []
    try:
        while gen.poll() is None:
            seen = {n: set(progress.commits(n)) for n in queries}
            backlog_series.append(sr.uncommitted(seen))
            time.sleep(0.5)
    finally:
        if gen.wait(timeout=60) != 0:
            errors.append(f"generator exited with {gen.returncode}")
    seen = {n: set(progress.commits(n)) for n in queries}
    backlog_end = sr.uncommitted(seen)
    bench.phase("live")
    drain()
    for q in queries.values():
        q.stop()
    # Progress events reach the listener asynchronously; wait for them all.
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    spark.streams.removeListener(progress.listener)
    errors += progress.errors
    bench.memory.stop()
    bench.phase("drain")

    with open(report) as fh:
        gen_report = json.load(fh)

    # Latency per live event: due time -> later of the two commits.
    logs = {n: _source_log(sr.dirs[f"ckpt_{n}"]) for n in queries}
    commits = {n: progress.commits(n) for n in queries}
    lat_ms, batch_pairs = [], set()
    for f in gen_report["files"]:
        if not f["ts"]:
            continue
        try:
            done = max(commits[n][logs[n][f["name"]]] for n in queries)
        except KeyError:
            errors.append(f"live file {f['name']} never committed")
            continue
        batch_pairs.add(tuple(logs[n][f["name"]] for n in queries))
        lat_ms += [done * 1e3 - ts for ts in f["ts"]]

    # Correctness: published sink contents against DuckDB, with the counts
    # windows the watermark of the last published batch had closed.
    watermark_ms = _batch_watermark(sr.dirs["ckpt_counts"], sr.dirs["sink_counts"])
    check = oracle.stream_mismatches(os.path.join(sr.landing, "*.csv"),
                                     sr.dirs["sink_counts"], sr.dirs["sink_durations"],
                                     watermark_ms)
    # Operations: each expected output row, and each query run; a failed
    # query, commit or generator counts once.
    attempted = len(queries) + sum(want for want, _ in check.values())
    failed = min(attempted, len(errors) + sum(bad for _, bad in check.values()))
    for name, (want, bad) in check.items():
        if bad:
            errors.append(f"{name}: {bad} of {want} rows differ from the oracle")
    bench.phase("check")
    bench.stop_spark()
    bench.phase("stop")

    metrics = {
        "wall_s": catch_s,
        "latency_p50_ms": layers.percentile(lat_ms, 50),
        "latency_p90_ms": layers.percentile(lat_ms, 90),
    }
    late = [(f["written_s"] - f["due_s"]) * 1e3 for f in gen_report["files"]]
    live_batches = {n: [p for p in progress.by_query[n]
                        if _iso_s(p["timestamp"]) >= live_start and p["numInputRows"] > 0]
                    for n in queries}
    detail = {"live_batches": {n: [(round(_iso_s(p["timestamp"]) - live_start, 3),
                                    p["durationMs"]["triggerExecution"], p["numInputRows"])
                                   for p in ps] for n, ps in live_batches.items()},
              "catchup_eps": bench.backlog_events / catch_s if catch_s > 0 else 0.0,
              "backlog_events": bench.backlog_events, "rate_eps": bench.rate,
              "live_events": gen_report["events"], "latency_samples_batches": len(batch_pairs),
              "catchup_batches": n_backlog_batches, "backlog_series": backlog_series,
              "errors": errors}
    layer_metrics = {}
    if bench.trace:
        layer_metrics = _layer_metrics(progress, live_batches, sr, construct_ms,
                                       backlog_end, late, gen_report, tracer,
                                       bench.seconds)
        detail["progress"] = progress.by_query
    return {"attempted": attempted, "failed": failed, "metrics": metrics,
            "layers": layer_metrics, "detail": detail}


def _layer_metrics(progress, live_batches, sr, construct_ms, backlog_end, late,
                   gen_report, tracer, live_s) -> dict:
    med = layers.median
    out = {"jobs.construct_ms": construct_ms}
    for n, ps in live_batches.items():
        dur = [p["durationMs"] for p in ps]
        ops = [p["stateOperators"][0] for p in ps if p["stateOperators"]]
        every = progress.by_query[n]
        final_ops = next((p["stateOperators"][0] for p in reversed(every)
                          if p["stateOperators"]), {})
        out[f"streaming.{n}.batch_ms"] = med(d["triggerExecution"] for d in dur)
        out[f"streaming.{n}.add_batch_ms"] = med(d.get("addBatch", 0) for d in dur)
        out[f"streaming.{n}.query_planning_ms"] = med(d.get("queryPlanning", 0) for d in dur)
        out[f"streaming.{n}.wal_commit_ms"] = med(d.get("walCommit", 0) for d in dur)
        out[f"streaming.{n}.batches"] = len(ps)
        out[f"streaming.{n}.state_rows"] = final_ops.get("numRowsTotal", 0)
        out[f"streaming.{n}.state_memory_bytes"] = final_ops.get("memoryUsedBytes", 0)
        out[f"streaming.{n}.state_commit_ms"] = med(o.get("commitTimeMs", 0) for o in ops)
        out[f"streaming.{n}.rows_dropped_by_watermark"] = sum(
            p["stateOperators"][0].get("numRowsDroppedByWatermark", 0)
            for p in every if p["stateOperators"])
        for p in every:
            tracer.add("streaming.batch", f"{n}:{p['batchId']}", _iso_s(p["timestamp"]),
                       _iso_s(p["timestamp"]) + p["durationMs"]["triggerExecution"] / 1e3,
                       input_rows=p["numInputRows"])
    every_live = [p["durationMs"] for ps in live_batches.values() for p in ps]
    out["sources.latest_offset_ms"] = med(d.get("latestOffset", 0) for d in every_live)
    out["sources.get_batch_ms"] = med(d.get("getBatch", 0) for d in every_live)
    out["sources.backlog_files"] = backlog_end
    out["sinks.publish_ms"] = med(sr.publish_s) * 1e3
    out["sinks.files_published"] = (len(oracle.manifest_files(sr.dirs["sink_counts"]))
                                    + len(oracle.manifest_files(sr.dirs["sink_durations"])))
    out["gen.late_ms_p99"] = layers.percentile(late, 99)
    out["gen.events"] = gen_report["events"]
    tracer.link_children("sinks.publish_batch", "streaming.batch")
    out["trace.overhead_pct"] = tracer.bookkeeping_s / live_s * 100 if live_s > 0 else 0.0
    return out
