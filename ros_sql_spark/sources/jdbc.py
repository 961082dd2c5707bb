"""JDBC source/sink — the twin of the reference's SQLAlchemy backend.

strawlab/ros_sql speaks to any SQLAlchemy database (SQLite/PostgreSQL/
MySQL) with a per-message INSERT + commit (R7) — its throughput ceiling
(SURVEY.md §4.1).  The engine replaces that with vectorized JDBC:

- batch: ``write_jdbc`` / ``read_jdbc`` (partitioned parallel reads,
  batched executemany writes);
- streaming: ``jdbc_idempotent_batch`` as a foreachBatch body — key-level
  dedup makes redelivered micro-batches exactly-once, the same contract
  as streaming/replay.py's parquet sink.

Testing backend: embedded Apache Derby (ships with Spark's jars), so the
JDBC path is exercised for real in this container; production swaps the
URL/driver for PostgreSQL/MySQL unchanged.

Scale notes (100 TB):
- writes: bound connection count with ``num_partitions`` (a 1000-executor
  write would otherwise open 1000 connections) and size ``batchsize`` to
  the row width; idempotency belongs in the STORE at scale
  (INSERT .. ON CONFLICT / MERGE) — the anti-join body here is the
  database-agnostic fallback.
- reads: always give ``partition_column``/bounds for parallelism; a bare
  read_jdbc is a single-connection scan.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

__all__ = [
    "DERBY_DRIVER",
    "derby_url",
    "write_jdbc",
    "read_jdbc",
    "jdbc_idempotent_batch",
]

DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


def derby_url(db_path: str, create: bool = True) -> str:
    """Embedded-Derby URL for tests / single-node use."""
    suffix = ";create=true" if create else ""
    return f"jdbc:derby:{db_path}{suffix}"


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "append",
    driver: str | None = None,
    batchsize: int = 10_000,
    num_partitions: int | None = 8,
) -> None:
    """Vectorized JDBC write (R7 twin: batched executemany, not per-row)."""
    w = (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", str(batchsize))
    )
    if driver:
        w = w.option("driver", driver)
    if num_partitions:
        w = w.option("numPartitions", str(num_partitions))
    w.mode(mode).save()


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    driver: str | None = None,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int = 8,
) -> DataFrame:
    """JDBC read; give ``partition_column`` + bounds for a parallel scan
    (each partition becomes one range-predicated query — without it the
    read is a single connection)."""
    r = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    if driver:
        r = r.option("driver", driver)
    if partition_column is not None:
        r = (
            r.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions))
        )
    return r.load()


def jdbc_idempotent_batch(
    batch_df: DataFrame,
    batch_id: int,
    url: str,
    table: str,
    key_cols: list[str],
    driver: str | None = None,
) -> None:
    """foreachBatch body: append only rows whose keys are absent in the
    target table (exactly-once over at-least-once redelivery: a
    redelivered batch finds all its keys present and appends nothing)."""
    spark = batch_df.sparkSession
    fresh = batch_df.dropDuplicates(key_cols)
    try:
        existing = read_jdbc(spark, url, table, driver=driver).select(*key_cols)
        fresh = fresh.join(existing, key_cols, "left_anti")
    except Exception as exc:
        # ONLY "table does not exist" may be swallowed (first batch
        # creates it).  A transient JDBC failure (lock contention,
        # connection drop) must fail loudly: silently skipping the
        # anti-join would re-append every redelivered row and break the
        # exactly-once contract record_stream_jdbc advertises (round-8
        # review).  Error-text match covers Derby ("does not exist"),
        # Postgres ("does not exist"), MySQL ("doesn't exist").
        msg = str(exc).lower()
        if "not exist" not in msg and "doesn't exist" not in msg:
            raise
    write_jdbc(fresh, url, table, mode="append", driver=driver)
