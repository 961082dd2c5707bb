"""SparkSession factory with engine-wide configuration.

Every config here is load-bearing:

- ``nanosAsLong``: the events table is parquet ``timestamp[ns]``
  (FIXTURES.md Part A); Spark 4 rejects TIMESTAMP(NANOS) natively, so we
  read it as a lossless ns-epoch long and derive µs timestamps in the
  loader (SURVEY.md §1.3 hazard 1).
- UTC session timezone: keeps Spark timestamp arithmetic aligned with the
  DuckDB oracle (DuckDB timestamps are wall-clock naive).
- AQE on (default in Spark 4, pinned explicitly): runtime partition
  coalescing + skew-join splitting — the 100 TB story relies on it.
- Arrow on: Pandas UDF paths (MinHash, multimodal) are Arrow-batched.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_spark", "configure_builder"]


def configure_builder(builder: SparkSession.Builder) -> SparkSession.Builder:
    """Apply engine configs to an existing builder (used by the driver's
    entry point, which owns the session, and by tests)."""
    return (
        builder.config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Nested-schema pruning so struct-heavy normalize plans scan only
        # the referenced leaves (SURVEY.md §4.2).
        .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
    )


def get_spark(
    app_name: str = "ros_sql_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` (driver convention) or all
    cores.  ``shuffle_partitions`` defaults to the core count — on a real
    cluster you would size this to ~2-3× total executor cores; at 100 TB
    the AQE coalescer makes the static number a ceiling, not a target.
    """
    if cpus is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        cpus = int(env) if env else 0
    master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus if cpus else (os.cpu_count() or 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    return configure_builder(builder).getOrCreate()
