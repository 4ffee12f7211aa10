"""SparkSession factory.

Scale posture: every default here is chosen to survive a 1000-executor
cluster, then overridden down for local[N] testing:

- AQE on (runtime re-plan, partition coalescing, skew-join splitting) —
  replaces the reference's hand-tuned worker counts
  (``config.json:19-21``, ``interface.py:75-78``).
- shuffle partitions default to the local core count (env-overridable);
  on a real cluster AQE coalesces from a high initial number.
- UTC session timezone so timestamp semantics match the DuckDB oracle.
- Arrow enabled for any pandas-UDF path.
- Task-running Python workers fork from ``_worker_daemon``
  (``spark.python.daemon.module``), which takes Spark's ``pyspark.zip``,
  py4j zip and ``spark-core`` jar off the worker path when the installed
  pyspark is the same version. PySpark calls ``importlib.invalidate_caches()``
  in every task, and with those archives on the path that call re-read
  about 27k zip entries: 0.10-0.13 s a task on a 4-vCPU VM, under
  0.1 ms without them. The package's parent directory is appended to
  ``spark.executorEnv.PYTHONPATH`` so workers find the daemon module
  from any cwd. Spark's data-source planner round trips still start
  ``pyspark.daemon`` itself and keep paying the cost.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import SparkSession


def _default_parallelism() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return max(1, int(env))
    return os.cpu_count() or 8


def get_spark(app_name: str = "etl-transparencia-sergipe-spark",
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    ``SPARK_GRAFT_CPUS`` controls local master threads and shuffle
    partitions, matching the driver's bench contract.
    """
    cores = _default_parallelism()
    conf = dict(extra_conf or {})
    worker_path = os.pathsep.join(filter(None, (
        conf.pop("spark.executorEnv.PYTHONPATH", ""),
        str(Path(__file__).resolve().parent.parent))))
    builder = (
        SparkSession.builder
        .master(os.environ.get("SPARK_GRAFT_MASTER", f"local[{cores}]"))
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # local[N] puts the driver AND every "executor" in ONE JVM: 8g
        # (a single executor's budget on a real cluster) left ~256 MB
        # per concurrent task at local[32] and OOM'd the sf10 scale run
        # (q33's verify join). 24g is the local-box posture; a cluster
        # deployment sets spark.executor.memory per node instead.
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        # ContextCleaner only reclaims shuffle files / cached blocks when
        # driver GC collects their RDD handles — and a 24g heap may not
        # GC for hours, so a long session accumulates every query's
        # shuffle output on disk (the sf10 scale run filled 80 GB of
        # /tmp and died with ENOSPC on this exact mechanism). Force a
        # periodic driver GC so cleanup tracks query churn, not heap
        # pressure. Same knob applies on a real cluster's long-running
        # drivers (default 30min is tuned for multi-TB cluster disks).
        .config("spark.cleaner.periodicGC.interval", "2min")
        .config("spark.ui.enabled", "false")
        # 16 MB (not the 128 MB default): testdata tables arrive as one
        # compressed file each, and a 30 MB parquet file holds 1M+ rows
        # that fan out through exploded self-joins and session sorts — a
        # single-partition scan leaves 31 of 32 cores idle for the whole
        # first stage (q52 partial agg measured 2.6x faster split 6 ways).
        # On a real cluster the input is many files/blocks and this only
        # splits files that are genuinely dense.
        .config("spark.sql.files.maxPartitionBytes", str(16 * 1024 * 1024))
        # local-literal frames (createDataFrame/range) default to 1024
        # partitions in this build — cap at core count so tiny dimension
        # frames don't fan into thousands of no-op tasks
        .config("spark.sql.leafNodeDefaultParallelism", str(cores))
        # Python Data Source filter pushdown (portal_datasource.py)
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # INT96 (the legacy default) carries NO parquet min/max stats, so
        # timestamp predicates can never skip row groups on our own
        # writes; int64 micros restores stats + pushdown (operators/
        # layout.py measures the skip fraction) and is what modern lake
        # formats mandate anyway
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.python.daemon.module",
                "etl_transparencia_sergipe_spark._worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", worker_path)
    )
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
