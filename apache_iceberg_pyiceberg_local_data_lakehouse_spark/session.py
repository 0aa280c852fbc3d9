"""SparkSession construction for the engine.

The reference runs a single-process PyArrow pipeline
(``/root/reference/lakehouse_pipeline.py:303-311`` builds a SQLite-backed
PyIceberg catalog). Here the session is the engine: Catalyst plans, Tungsten
executes, and every operator in this package is expressed against it.

Scale notes (100 TB design, tested on local[32]):
- AQE on: runtime coalescing of shuffle partitions, skew-join splitting.
- ``spark.sql.shuffle.partitions`` is a default only — AQE re-plans it.
- UTC session timezone everywhere (reference uses UTC-µs timestamps,
  ``lakehouse_pipeline.py:156,182,247``) so event-time semantics are stable
  across engines and the DuckDB oracle.
- Arrow execution enabled for the few Pandas-UDF code paths.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_spark(
    app_name: str = "lakehouse-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    On a real cluster, ``master`` comes from the environment; locally we
    default to ``local[$SPARK_GRAFT_CPUS]``.
    """
    master = master or f"local[{DEFAULT_CPUS}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config(
            "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g")
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or int(DEFAULT_CPUS) * 2),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # INT96 (Spark's legacy default) carries no parquet min/max stats,
        # which would blind manifest-level file skipping on timestamps;
        # TIMESTAMP_MICROS is also the reference's us discipline
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def configure_runtime(spark: SparkSession) -> SparkSession:
    """Apply engine-required *runtime* confs to an externally-built session.

    The driver harness hands us its own SparkSession; static confs can't be
    changed, but session timezone (the one that affects correctness of
    timestamp collection) can.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    return spark
