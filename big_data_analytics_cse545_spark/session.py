"""SparkSession factory with scale-oriented defaults.

The reference hand-rolls its runtime (one OS process per map/reduce task,
``Assignment 1/a1p1_ahuja.py:91-166``) or pins Spark 2.2 RDD defaults.
Here the session is configured for the modern stack: AQE, Arrow-batched
Python boundaries, and a shuffle-partition count sized by environment so
the same code runs on local[32] tests and a 1000-executor cluster.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "big-data-analytics-cse545-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    Tunables come from the environment so the driver/bench can resize:
      SPARK_GRAFT_CPUS   -> local[$N] master (default local[*])
      SPARK_GRAFT_SHUFFLE_PARTITIONS -> spark.sql.shuffle.partitions
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32")
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Deterministic timestamp semantics regardless of host timezone —
        # required for DuckDB-oracle parity on date/window queries.
        .config("spark.sql.session.timeZone", "UTC")
        # AQE: runtime re-plan (skew join splitting, partition coalescing,
        # sort-merge -> broadcast conversion). Essential at 100 TB.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for every JVM<->Python boundary (pandas UDFs, toPandas).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Custom Python data sources with pushFilters refuse to plan
        # unless this is on (sources/pysource.py)
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Local-mode memory headroom; on a real cluster the submitter sets this.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    return spark


def configure_runtime(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine defaults to an externally created session.

    The correctness driver hands us its own SparkSession; only
    runtime-mutable confs may be touched here (session timezone, AQE,
    Arrow) — never JVM-startup ones.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    # Custom Python data sources (sources/pysource.py) implement
    # pushFilters; Spark refuses to plan them unless pushdown is
    # explicitly enabled (off by default in 4.x).
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    # A vanilla session defaults to 200 shuffle partitions — at test SF
    # that is pure scheduling overhead (and for stateful streaming, 200
    # state-store instances). BUT only the vanilla default may be
    # replaced — by the env override if set, else by 32: a session
    # whose creator deliberately set a value (bench.py's explicit 32, the
    # chaos sweep's degenerate 1/16 probes) must keep it. The env
    # override is likewise restricted to the vanilla default (round-6
    # advice): with SPARK_GRAFT_SHUFFLE_PARTITIONS exported, an
    # unconditional env branch re-clobbered every probe harness's
    # deliberate conf on each wrapped query — the same silent-clobber
    # class the round-6 conditional fixed. Sessions built by get_spark
    # already fold the env var in at startup, so nothing legitimate is
    # lost by scoping it to the untouched-default case here.
    if spark.conf.get("spark.sql.shuffle.partitions") == "200":
        spark.conf.set(
            "spark.sql.shuffle.partitions",
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"),
        )
    return spark
