"""SparkSession factory with scale-oriented defaults.

Single place that encodes the configuration we would deploy on a real
cluster: AQE on (runtime re-planning, skew-join splitting, partition
coalescing), sane shuffle partition counts, Arrow enabled for the few
pandas-UDF kernels.  Tests and bench both go through here.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "filodb-spark", master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    On the test rig this is local[N]; on a real cluster the same settings
    apply (AQE handles the scale-up: it coalesces small shuffles at
    sf0.01 and splits skewed ones at 100 TB).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cpus) if cpus.isdigit() else 32, 32)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # IEEE-754 float semantics (x/0 handled explicitly in kernels);
        # ANSI mode would raise instead of letting kernels decide
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # the driver fixture `events` table stores TIMESTAMP(NANOS), which
        # Spark's parquet reader rejects by default; read as long (ns)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # bucketed series tables (sources/table.py) exist precisely for
        # planning-time bucket pruning; the DisableUnnecessaryBucketedScan
        # rule would trade that away for file-split parallelism
        .config("spark.sql.sources.bucketing.autoBucketedScan.enabled",
                "false")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.sql.session.timeZone", "UTC")
        # FAIR job scheduling: the HTTP server gives each request its
        # own scheduler pool (run_with_timeout), so concurrent queries
        # round-robin instead of queueing FIFO behind a long scan —
        # the reference isolates per-query schedulers the same way
        # (FiloSchedulers / one QueryActor mailbox per dataset).
        # Sequential workloads (bench, tests) are unaffected: a single
        # pool schedules exactly like FIFO.
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()
