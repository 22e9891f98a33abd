"""SparkSession factory.

Local testing runs on ``local[N]`` (one JVM); the configs below are chosen so
the same logical plans scale to a real multi-executor cluster:

- AQE on (runtime coalescing, skew-join splitting) — at 100 TB the static
  shuffle-partition guess is always wrong; AQE re-plans from actual map output.
- shuffle.partitions sized to cores locally; on a cluster this should be
  ~2-3x total executor cores (AQE coalesces the excess).
- UTC session timezone so timestamp semantics match the DuckDB oracle and are
  deployment-independent.
- Arrow enabled: every pandas_udf / mapInPandas boundary is Arrow-batched.
- Partition-directory listing on the driver up to 4096 directories per
  level (``configure_session``): a versioned-table read lists each live
  version's partition directories, and above Spark's default of 32 that
  listing is a Spark job — on ``local[N]`` it runs on the same cores as
  the driver and only adds scheduling cost.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def get_spark(app_name: str = "datalake2anomali-spark", cpus: int | str | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults."""
    if cpus is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # ContextCleaner is weak-reference driven: shuffle files, broadcast
        # blocks, and localCheckpoint RDDs are only released after a JVM GC
        # enqueues their references, and a large mostly-idle heap can go the
        # default 30 MINUTES without one.  Long many-query sessions (the
        # bench, the driver's 50-query gate) otherwise degrade 3-4x by the
        # tail as dead state accumulates; measured decontaminate 2.7s fresh
        # vs 9.9s at position ~80 of a bench run.  One minute keeps cleanup
        # bounded without measurable GC overhead at this heap size.
        .config("spark.cleaner.periodicGC.interval", "1min")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    configure_session(spark)
    return spark


def configure_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine confs to an externally-provided session.

    The driver harness hands us its own SparkSession; anything the engine
    depends on at query time (not builder time) is (re)applied here.
    ``nanosAsLong`` is legacy-compat: it lets a TIMESTAMP(NANOS) events file
    scan as a raw long instead of erroring (harmless for the current MICROS
    testdata); :func:`datalake2anomali_spark.io.tables.normalize_events_ts`
    branches on whatever dtype actually scans.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Scan MICROS/MILLIS (no-UTC-flag) timestamp columns as TimestampType —
    # instant-identical under the UTC session TZ — so every table's scanned
    # dtype is deterministic regardless of load order (set once here, never
    # flipped per-table inside loaders).
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # List up to 4096 partition directories on the driver instead of in a
    # Spark job (default threshold 32): on local[N] the listing job runs on
    # the driver's own cores, so an 80-partition version directory paid an
    # 80-task job per read for nothing but scheduling
    spark.conf.set("spark.sql.sources.parallelPartitionDiscovery.threshold", "4096")
    # Python DataSource pushFilters (sources/datalake.py) requires opt-in
    try:
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    except Exception:  # pragma: no cover - unknown conf on older Spark
        pass
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    except Exception:  # pragma: no cover - static conf in some deployments
        pass
    return spark
