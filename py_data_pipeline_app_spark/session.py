"""SparkSession factory with scale-aware defaults.

The defaults are tuned for the local[32] test harness but chosen so
the same knobs are correct on a 1000-executor cluster:

- AQE on (runtime coalescing, skew-join splitting, join re-planning);
- shuffle partitions sized to cores locally — on a real cluster AQE
  coalesces from a high initial number, so we set the initial high and
  let AQE shrink, rather than hand-pinning per-job;
- UTC session timezone so results are comparable across engines
  (DuckDB oracle timestamps are UTC-naive);
- Arrow enabled for any pandas interchange (pandas UDFs, ``toPandas``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "py_data_pipeline_app_spark",
    *,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 10k-row dims (part/customer at test scale; products/customers in the
        # reference model) should always broadcast; default 10MB is fine, keep
        # explicit so intent survives config drift.
        .config("spark.sql.autoBroadcastJoinThreshold", "10485760")
        # Partitioned-index reads (assigned/centroid_id=*, bands/pb=*)
        # hand the scan a few hundred partition directories; Spark's
        # default threshold (32) schedules a DISTRIBUTED LISTING JOB
        # above that, whose task-scheduling overhead alone (~0.2-0.3 s
        # per read, measured r15) exceeds a driver-side listing of a
        # few hundred dirs on any filesystem. Production-scale indexes
        # (k ~ 10^4+ partition dirs) still take the parallel path.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "512")
        # Per-DataFrame-op call-site capture costs a Python stack walk
        # AND one extra py4j round trip per op (PySparkCurrentOrigin
        # update). The registry's plans are built from hundreds of ops
        # each, twice per bench run — measured ~0.2 s of pure driver
        # latency on the widest single plan. Trade: error messages
        # lose the user-code call-site line (stack traces remain).
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
