"""Benchmark for the spark-graft engine.

    python3 perfbench/run.py --workload dedup_batch --seed 1 --seconds 12 --trace 0

Workloads (BENCHMARK.json lists the ones the comparison runs, and why):

- ``dedup_batch``: dedup and graph-clustering queries, closed loop, one
  client;
- ``stream_course``: the chapter-6 course job under an open-loop generator;
- ``tpch_batch``: TPC-H queries in the same loop as ``dedup_batch``, the
  execution-bound control, run by hand.

The batch workloads read the engine's sf0.01 fixture tables, kept under
``data/``, in an order drawn from ``--seed``; the stream workload generates
its events from ``--seed``. The benchmark times only calls into the
package's public functions, checks every output against DuckDB, and prints
one JSON object as the last line of standard output. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` records spans and Spark counters and
reports the per-layer metrics. ``--smoke`` runs a single set-up and a smaller
stream backlog and rate, for a quick self-test.

Everything the run writes lives under ``.perfbench/`` at the repository
root: a per-run work directory, removed at exit, and ``results/``, which
keeps one labelled JSON file per run (and its spans when traced).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "flink_realtime_data_eng_spark"

WORKLOADS = ("tpch_batch", "dedup_batch", "stream_course")
SETUPS = 3

# Stream inputs: backlog size and live rate (events per second).
FULL = {"backlog_events": 1500, "rate": 40.0}
SMOKE = {"backlog_events": 300, "rate": 20.0}

# Metric names and units, as declared in BENCHMARK.json.
SPEC_FILE = ROOT / "BENCHMARK.json"


def _code_label() -> dict:
    """Git commit when the tree is a repository, and a hash of the package
    sources either way."""
    h = hashlib.sha256()
    for p in sorted((ROOT / PACKAGE).rglob("*.py")):
        h.update(p.relative_to(ROOT).as_posix().encode())
        h.update(p.read_bytes())
    commit = "none"
    if (ROOT / ".git").exists():
        try:
            commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, check=True,
                                    capture_output=True, text=True).stdout.strip()
        except (OSError, subprocess.CalledProcessError):
            pass
    return {"git_commit": commit, "package_sha256": h.hexdigest()[:16]}


def _reap_children(timeout_s: float = 20.0) -> None:
    """Wait for every process this run started to end; terminate stragglers."""
    import layers
    me = os.getpid()
    deadline = time.time() + timeout_s
    sig = None
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        pids = layers.descendants(me)
        if not pids:
            return
        if time.time() > deadline:
            if sig == signal.SIGKILL:
                return
            sig = signal.SIGTERM if sig is None else signal.SIGKILL
            deadline = time.time() + 5
            for pid in pids:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        time.sleep(0.1)


class Bench:
    """Run-wide state: arguments, directories, tracer and the session."""

    def __init__(self, args, work: Path, memory):
        import layers
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.smoke = args.smoke
        sizes = SMOKE if args.smoke else FULL
        self.backlog_events = sizes["backlog_events"]
        self.rate = sizes["rate"]
        self.work = work
        self.memory = memory
        self.tracer = layers.Tracer(self.trace)
        self.setup_s: list[float] = []
        self.session_ms: list[float] = []
        self.spark = None
        self.phases: dict[str, float] = {}
        self._mark = time.perf_counter()

    def phase(self, name: str) -> None:
        """Close the current phase under ``name`` (seconds, for the record)."""
        now = time.perf_counter()
        self.phases[name] = self.phases.get(name, 0.0) + now - self._mark
        self._mark = now

    def _session(self):
        from flink_realtime_data_eng_spark import session
        return session.get_spark("perfbench", extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
        })

    def _warm_up(self, spark) -> None:
        """Fixed warm-up: one shuffle aggregate and one Arrow round trip
        through the Python workers, one partition per core."""
        from pyspark.sql import functions as F
        n = spark.sparkContext.defaultParallelism
        (spark.range(0, 64 * n, 1, n).groupBy((F.col("id") % 7).alias("k"))
         .agg(F.sum("id")).write.mode("overwrite").format("noop").save())

        def identity(batches):
            yield from batches

        (spark.range(0, 64 * n, 1, n).withColumn("v", F.rand(1))
         .mapInPandas(identity, "id long, v double")
         .write.mode("overwrite").format("noop").save())

    def setup(self, build_artifacts, runs: int = SETUPS):
        """Start the session, warm it up and ``build_artifacts(spark)``,
        the program's artifact caches; repeated ``runs`` times from a
        stopped session with the caches removed, keeping the last one."""
        n = 1 if self.smoke else runs
        self.memory.start()
        for i in range(n):
            if self.spark is not None:
                self.spark.stop()
                self._clear_artifacts()
                self._wait_for_teardown()
            with self.tracer.span("setup", f"setup:{i}"):
                t0 = time.perf_counter()
                with self.tracer.span("session.get_spark", f"setup:{i}"):
                    spark = self._session()
                t1 = time.perf_counter()
                spark.sparkContext.setLogLevel("ERROR")
                self._warm_up(spark)
                build_artifacts(spark)
                t2 = time.perf_counter()
            self.spark = spark
            self.session_ms.append((t1 - t0) * 1e3)
            self.setup_s.append(t2 - t0)
        self.phase("setup")
        return self.spark

    def _wait_for_teardown(self, timeout_s: float = 10.0) -> None:
        """Let the stopped session's Python workers exit, so they do not
        compete with the next set-up."""
        import layers
        from pyspark import SparkContext
        keep = {SparkContext._gateway.proc.pid}
        deadline = time.time() + timeout_s
        while set(layers.descendants(os.getpid())) - keep and time.time() < deadline:
            time.sleep(0.05)

    def _clear_artifacts(self) -> None:
        tmp = Path(os.environ["TMPDIR"])
        for p in tmp.glob("frde_*"):
            shutil.rmtree(p, ignore_errors=True)

    def stop_spark(self) -> None:
        if self.spark is None:
            return
        from pyspark import SparkContext
        self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None
        self.spark = None


def _environment(work: Path) -> None:
    """Point every scratch location of Python, Spark and the JVM inside the
    run's work directory, and make the package importable by the driver
    and by Spark's Python workers from any working directory."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(min(4, os.cpu_count() or 1)))
    import tempfile
    tempfile.tempdir = None
    sys.path.insert(0, str(ROOT))


def _metric_block(specs: list[dict], values: dict) -> dict:
    """Every declared metric with its unit; a layer the workload does not
    run reads 0."""
    return {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in specs}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description="spark-graft benchmark")
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true",
                   help="a single set-up and a smaller stream, for the self-test")
    args = p.parse_args(argv)

    if not (ROOT / PACKAGE / "__init__.py").is_file() or not SPEC_FILE.is_file():
        print(f"perfbench: {PACKAGE} or {SPEC_FILE.name} not found under {ROOT}",
              file=sys.stderr)
        return 2

    base = ROOT / ".perfbench"
    work = base / f"run-{args.workload}-{args.seed}-{os.getpid()}"
    results = base / "results"
    results.mkdir(parents=True, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    _environment(work)
    sys.path.insert(0, str(HERE))
    import layers

    label = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
             "trace": args.trace, "smoke": args.smoke,
             "cpus": int(os.environ["SPARK_GRAFT_CPUS"]), **_code_label()}
    host_before = layers.host_context()
    memory = layers.MemorySampler()
    bench = Bench(args, work, memory)
    try:
        if args.workload == "stream_course":
            import stream
            out = stream.run(bench)
        else:
            import batch
            label["sf"] = batch.SF
            out = batch.run(bench, args.workload)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        memory.stop()
        try:
            bench.stop_spark()
        finally:
            _reap_children()
            shutil.rmtree(work, ignore_errors=True)

    spec = json.loads(SPEC_FILE.read_text())
    e2e = dict(out["metrics"])
    e2e["setup_s"] = statistics.median(bench.setup_s)
    e2e["peak_pss_mb"] = memory.peak_bytes / 2**20
    per_layer = dict(out["layers"])
    per_layer["session.start_ms"] = statistics.median(bench.session_ms)
    metrics = (_metric_block(spec["per_layer"], per_layer) if args.trace
               else _metric_block(spec["end_to_end"], e2e))
    attempted, failed = int(out["attempted"]), int(out["failed"])
    record = {**label, "host_before": host_before, "host_after": layers.host_context(),
              "setup_runs_s": bench.setup_s, "phases_s": bench.phases,
              "error_rate": failed / max(1, attempted), "metrics": metrics, "detail": out["detail"]}
    stem = (f"{args.workload}-seed{args.seed}-trace{args.trace}"
            f"-{label['package_sha256']}-{os.getpid()}")
    with open(results / f"{stem}.json", "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    if args.trace:
        bench.tracer.write(str(results / f"{stem}-spans.json"))
    for err in out["detail"].get("errors", []):
        print(f"perfbench: {err}", file=sys.stderr)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
