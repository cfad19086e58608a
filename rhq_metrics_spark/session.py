"""SparkSession factory with scale-oriented defaults.

Defaults chosen for the local[32] test harness but expressed so the
same settings are correct on a multi-executor cluster: AQE on (runtime
shuffle-partition coalescing + skew-join splitting), broadcast joins
for small dimensions, Arrow for any pandas exchange, and parquet
pushdown left at its (enabled) defaults so Catalyst prunes partitions
and row groups.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _workers_import_package() -> bool:
    """Whether a Python worker can import this package.  Spark starts
    the worker daemon as ``python -m <module>`` in the driver's working
    directory, with the driver's ``PYTHONPATH`` and the interpreter's
    installed locations on its path; a package that a script only put
    on its own ``sys.path`` is invisible there."""
    import site

    root = os.path.realpath(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    paths = [
        os.getcwd(),
        *os.environ.get("PYTHONPATH", "").split(os.pathsep),
        *site.getsitepackages(),
        site.getusersitepackages(),
    ]
    return any(p and os.path.realpath(p) == root for p in paths)


def get_spark(
    app_name: str = "rhq-metrics-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a
    real cluster leave it unset and let spark-submit provide it.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cpus) if cpus.isdigit() else 32, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Deterministic time semantics: the engine works in epoch-millis
        # longs; anything that surfaces as TIMESTAMP is interpreted UTC.
        .config("spark.sql.session.timeZone", "UTC")
        # The driver-generated events table stores TIMESTAMP(NANOS)
        # which vanilla Spark rejects; read as long (nanos) and convert.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Adaptive execution: runtime coalescing of shuffle partitions,
        # skew-join splitting — both essential at 100 TB.
        # Readers race compaction's atomic swap (store._swap_in publishes
        # cold BEFORE retiring hot, so a scan holding a stale hot listing
        # can only skip rows that are already served from cold under LWW
        # — never lose data).  Without a manifest-based table format this
        # is the standard file-source guard.
        .config("spark.sql.files.ignoreMissingFiles", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Bounded serve-path collects (`limit(cap).collect()` guards on
        # query batches) otherwise scan 1, 4, 16, ... partitions in
        # SERIALIZED job waves (spark.sql.limit.scaleUpFactor) — 4 jobs
        # of scheduling latency to fetch a 10-row batch.  Start the
        # take at one core-count-wide wave (scale-adaptive: derived
        # from the same dial as shuffle_partitions, not a local[32]
        # constant).  (r17 opt, guide §5 — the driver should not wait
        # on job waves for bounded metadata.)
        .config("spark.sql.limit.initialNumPartitions", str(shuffle_partitions))
        # Partitioned index components (IVF cells, BM25 postings/dfreq)
        # use bounded fan-outs (64-1024 dirs); the default threshold
        # (32) turns every such read's file listing into a
        # dir-count-task Spark job.  Listing ≤ 128 dirs driver-side is
        # microseconds on a posix store; genuinely wide tables (beyond
        # 128 partition dirs) still get the parallel listing job.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "128")
        # Arrow for every pandas_udf / applyInPandas exchange.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Fork Python workers from a daemon that has numpy/pandas/pyarrow
        # preloaded (COW-inherited by every worker).  Spark kills — not
        # pools — any worker whose stream is not fully drained (limit
        # early-exits), so sessions re-fork whole 32-wide worker waves;
        # each stock-daemon fork then pays the heavy imports on its
        # first Arrow batch (measured: 5.9-12.3 s/task of "time to
        # initialize Python workers" on post-kill 32-task stages).
        # Per-executor daemon ⇒ cluster-correct at any core count.  Set
        # only where workers can import the package (see below).
        # Small dims (nation/region/metric definitions) broadcast freely.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Per-call Python call-site capture (PySpark 4 DataFrame
        # debugging) costs an extra JVM round trip on EVERY DataFrame
        # API invocation — measured ~15% of served-query plan
        # construction.  This is a serving engine; error call sites are
        # a dev-mode aid.  Opt back in with SPARK_GRAFT_DEBUG=true.
        .config(
            "spark.python.sql.dataFrameDebugging.enabled",
            os.environ.get("SPARK_GRAFT_DEBUG", "false"),
        )
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # The parsed-SQL serving paths escape string literals with
        # backslashes (sqltext.sql_str); that scheme is only
        # injection-safe under the DEFAULT parser mode, so pin it — a
        # deployment flipping the legacy escapedStringLiterals mode
        # would otherwise let a quote in a tenant/metric name break out
        # of a per-request filter literal (ADVICE r8).
        .config("spark.sql.parser.escapedStringLiterals", "false")
    )
    if _workers_import_package():
        # a daemon module workers cannot import fails every Python stage;
        # without it Spark's stock daemon serves them
        builder = builder.config(
            "spark.python.daemon.module", "rhq_metrics_spark.pydaemon"
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
