"""SparkSession factory tuned for the yuki_spark engine.

Local testing runs on ``local[N]``; the same configuration is what we
would ship to a 1000-executor cluster: AQE on (with skew-join
handling), Arrow enabled for the few Pandas-UDF operators, and a
shuffle-partition count that AQE coalesces at runtime.

Relied-upon Spark 4.x defaults (verified on): runtime bloom-filter
join pruning (`spark.sql.optimizer.runtime.bloomFilter.enabled`) —
semi-join reduction of fact scans behind selective dim filters — and
dynamic partition pruning for partitioned layouts written by
io.sinks.
"""
from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "yuki_spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    Respects ``SPARK_GRAFT_CPUS`` for local parallelism so bench and
    tests share one entry point.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cpus == "*" else max(int(cpus), 4)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # events.parquet stores TIMESTAMP(NANOS); read as long, converted
        # to a microsecond timestamp in catalog.load (matches DuckDB's µs).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Spark 4 defaults inferTimestampNTZ=true, so µs-without-tz
        # parquet (orders/lineitem dates) would read as TIMESTAMP_NTZ
        # in a fresh session and as TIMESTAMP after the first events
        # load flipped the conf — an order-dependent schema. Pin it
        # off so every date column is a UTC instant from the start
        # (catalog.load repeats this for caller-provided sessions).
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    )
    return builder.getOrCreate()


def cluster_profile(
    executors: int = 1000,
    cores_per_executor: int = 4,
) -> dict[str, str]:
    """The runtime-settable conf surface we'd ship to a large cluster
    (the 1000-executor deployment SURVEY §4 designs for), sized from
    the fleet shape instead of local[] defaults:

    - shuffle partitions at 2× total cores (waves of ~2 tasks/core),
      with AQE coalescing down when a stage's data doesn't need them
      and splitting skewed partitions up;
    - 64 MB broadcast threshold — dims and query-set build sides fit,
      fact/corpus tables never do, so fact⋈fact joins land on SMJ;
    - 128 MB advisory / 256 MB scan partitions so a 100 TB scan makes
      ~400k input splits (bounded task count) and shuffle blocks stay
      executor-memory-sized.

    Pure function → dict, so it works on a builder (`.config(conf=)`)
    or a live session (``session_profile`` in
    tests/test_scale_plans.py); every key here is
    runtime-settable by design — static confs (executor memory/count)
    belong to the submit layer, not the engine."""
    total_cores = executors * cores_per_executor
    return {
        "spark.sql.shuffle.partitions": str(2 * total_cores),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum": str(
            4 * total_cores
        ),
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": str(128 << 20),
        "spark.sql.autoBroadcastJoinThreshold": str(64 << 20),
        "spark.sql.files.maxPartitionBytes": str(256 << 20),
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
    }
