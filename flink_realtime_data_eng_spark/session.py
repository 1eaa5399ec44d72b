"""SparkSession builders.

Two profiles:

- :func:`get_spark` — the scale profile. AQE on (runtime re-planning, skew-join
  splitting, partition coalescing), UTC session time zone (required for the
  DuckDB oracle comparison — DuckDB timestamps are UTC-naive), Arrow enabled
  for the Pandas-UDF paths, and ``parquet nanosAsLong`` because the driver's
  ``events`` table stores TIMESTAMP(NANOS) which Spark cannot read natively
  (loaders in :mod:`.schemas` convert nanos → TimestampType with exact integer
  arithmetic).

- :func:`get_test_spark` — deterministic test profile: tiny shuffle fan-out
  (the reference pins ``setParallelism(1)`` for deterministic output,
  /root/reference/.../chapter2/BasicStreamingOperations.java:41 — we only pin
  partition counts, never ordering semantics).

Local mode honors ``SPARK_GRAFT_CPUS`` (driver contract) for ``local[N]``.

Python workers start from :mod:`.pyworker` (``spark.python.daemon.module``).
Spark puts its own ``pyspark.zip``, ``py4j`` zip and ``spark-core`` jar at
the front of every worker's ``sys.path``, and PySpark re-reads each of those
archives' directories at the start of every Python task (~100-200 ms before
the first row). The module drops exactly those three archives when
``pyspark`` and ``py4j`` also resolve from the installed packages, so the
workers import the PySpark the driver imported. It leaves alone any other
path entry (a user's ``--py-files`` zip), the worker module and every
worker setting, and it keeps the archives when PySpark resolves nowhere
else. The conf is set only in local mode and only when the workers, which
inherit the driver's working directory and ``PYTHONPATH``, can import this
package; otherwise Spark's stock ``pyspark.daemon`` runs.
"""

from __future__ import annotations

import importlib.machinery
import os

from pyspark.sql import SparkSession

# Configs shared by every profile. Keys are all public Spark SQL confs.
_COMMON = {
    # Correctness-critical: DuckDB compares UTC-naive timestamps.
    "spark.sql.session.timeZone": "UTC",
    # events.parquet is TIMESTAMP(NANOS); Spark has no ns type -> read long.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Arrow transfer for pandas_udf / applyInPandas / toPandas.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # AQE: runtime shuffle-partition coalescing, skew-join splitting, and
    # dynamic join-strategy switching — the knobs that make one logical plan
    # survive sf0.001 -> 100 TB.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # parallelismFirst/advisoryPartitionSizeInBytes stay at Spark defaults.
    # r13 measured size-based coalescing (parallelismFirst=false, advisory
    # 256 MB — the guide §9 baseline): once the A/B rotated variant order
    # (fixed-order interleaving flattered whichever variant ran last), the
    # default was CLEARLY faster on compute-dense shuffles — the shingle/
    # Jaccard verify joins need CPU-parallelism that size-based coalescing
    # serializes at this scale (x_jaccard_sweep 2.6 s default vs 4.6 s
    # size-based; 10-query rotated panel 24.3 s vs 29.2 s). On a real
    # cluster with busy executors, set parallelismFirst=false via submit
    # conf per Spark's production guidance — partitions then land in the
    # 100 MB-1 GB band the guide sizes for.
    # session_window / window() rewrites benefit from ANSI-off default; keep
    # Spark defaults otherwise.
    "spark.ui.enabled": "false",
}


def _cpus() -> int:
    """SPARK_GRAFT_CPUS as a positive int, else 0 (→ local[*] / default
    shuffle fan-out). Unset or invalid must NOT pin the session to 1 core."""
    v = os.environ.get("SPARK_GRAFT_CPUS", "")
    return int(v) if v.isdigit() and int(v) > 0 else 0


def _worker_daemon_conf(master: str) -> dict[str, str]:
    """``spark.python.daemon.module`` for local workers that can import
    this package from the driver's cwd or ``PYTHONPATH``, else nothing."""
    pkg = __name__.rpartition(".")[0]
    dirs = [os.getcwd(), *os.environ.get("PYTHONPATH", "").split(os.pathsep)]
    spec = importlib.machinery.PathFinder.find_spec(pkg, [d for d in dirs if d])
    here = os.path.dirname(os.path.abspath(__file__))
    if (master.startswith("local") and spec is not None and spec.origin
            and os.path.samefile(os.path.dirname(spec.origin), here)):
        return {"spark.python.daemon.module": f"{pkg}.pyworker"}
    return {}


def get_spark(app_name: str = "flink-realtime-data-eng-spark",
              shuffle_partitions: int | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Scale-profile session.

    On a real cluster the ``master`` comes from spark-submit; locally we run
    ``local[N]`` with N = SPARK_GRAFT_CPUS (default: all cores). Shuffle
    partitions default to ~2× local cores (AQE coalesces down), which is the
    right shape for local[32]; a cluster deployment overrides via submit conf.
    """
    n = _cpus()
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{n}]" if n else "local[*]")
    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in {**_COMMON, **_worker_daemon_conf(master)}.items():
        builder = builder.config(k, v)
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * n, 32) if n else 32
    builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def get_test_spark(app_name: str = "frde-spark-tests") -> SparkSession:
    """Deterministic small-data profile for pytest (few partitions, AQE on)."""
    return get_spark(app_name, shuffle_partitions=4,
                     extra_conf={"spark.sql.shuffle.partitions": "4",
                                 "spark.default.parallelism": "4"})
