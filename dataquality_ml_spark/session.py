"""Session factory.

Re-provides the reference's dual-mode session builder
(``lib/connector.py:17-76`` in the reference: one cloud/Iceberg path, one
``local[*]`` dev path) as a single factory with scale-ready defaults:

- AQE on (runtime coalescing, skew-join splitting) instead of the reference's
  hard-coded ``repartition(32)`` (``app/AE_model.py:29``).
- Arrow on for every pandas UDF / toPandas boundary.
- Iceberg extensions are attached only when an Iceberg catalog is requested,
  so local tests carry no Maven baggage.
- Per-call origin capture off: PySpark otherwise records the Python call
  site of every ``Column`` / ``functions.*`` call for error messages, at
  several extra py4j round trips per call.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "dataquality-ml-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    iceberg_catalog: str | None = None,
    iceberg_warehouse: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    Parameters mirror the reference's ``create_spark_session`` /
    ``create_local_spark_session`` split (reference lib/connector.py:17-76)
    but default to a local session sized by ``SPARK_GRAFT_CPUS``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
        .config("spark.sql.session.timeZone", "UTC")
        # At 100 TB the scan parallelism comes from maxPartitionBytes, not
        # manual repartition; 128m is the scale default and harmless locally.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Parquet TIMESTAMP(NANOS) (as in the driver testdata) has no native
        # Spark type; read as long and convert at the reader layer
        # (sources.readers handles nanos→timestamp).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Naive parquet TIMESTAMP(MICROS) → TIMESTAMP (LTZ), not NTZ: with a
        # UTC session the values are identical and epoch casts keep working.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.ui.enabled", "false")
        # A static conf that PySpark reads once per process, on the first
        # Column or functions.* call: it must be a builder setting, not a
        # later spark.conf.set. Off, error messages lose the Python
        # call-site fragment; extra_conf={...: "true"} restores it.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )

    if iceberg_catalog:
        builder = (
            builder.config(
                "spark.sql.extensions",
                "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions",
            )
            .config(
                f"spark.sql.catalog.{iceberg_catalog}",
                "org.apache.iceberg.spark.SparkCatalog",
            )
            .config(f"spark.sql.catalog.{iceberg_catalog}.type", "hadoop")
            .config(
                f"spark.sql.catalog.{iceberg_catalog}.warehouse",
                iceberg_warehouse or "/tmp/iceberg-warehouse",
            )
        )

    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)

    return builder.getOrCreate()


def stop_spark(spark: SparkSession) -> None:
    """Close the session (reference lib/connector.py:78-82)."""
    spark.stop()
