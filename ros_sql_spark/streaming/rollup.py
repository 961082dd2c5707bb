"""Continuous rollup: an incrementally-maintained materialized
time-bucket aggregate (the "hypertable rollup" shape).

The reference (strawlab/ros_sql) has no aggregation at all — this is an
engine extension on the same Structured Streaming spine as the recorder
(SURVEY.md §2.2 streaming rows): a windowed aggregate in update mode
whose re-emitted rows UPSERT into a date-partitioned parquet store, so
the store always holds exactly one current row per (window, key).

Design for 100 TB:
- The stream side is a standard watermarked window aggregate — bounded
  state, partial aggregation, no custom shuffle.
- The store is partitioned by window DATE; an upsert rewrites only the
  partitions the micro-batch touched (dynamic partition overwrite), not
  the whole history.  A day's rollup rows are (windows × keys) — tiny
  next to the raw stream — so the rewrite amortizes to ~zero.
- The only driver-side collect is the batch's distinct window dates
  (bounded by windows-per-trigger, same discipline as record.py's
  per-batch topic demux).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

__all__ = ["hourly_rollup", "rollup_upsert_batch", "continuous_rollup"]

_KEYS = ["w_start", "event_type"]


def hourly_rollup(events: DataFrame, width: str = "1 hour",
                  watermark: str = "1 hour") -> DataFrame:
    """Per-type time-bucket aggregate — identical expression on a batch
    or streaming frame (the batch form IS the correctness oracle for
    the continuous one; asserted in tests/test_rollup.py)."""
    ev = events
    if events.isStreaming:
        ev = events.withWatermark("ts", watermark)
    return (
        ev.groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("value").alias("total"),
        )
        .select(
            F.col("w.start").alias("w_start"),
            "event_type",
            "n",
            "total",
        )
    )


def rollup_upsert_batch(batch_df: DataFrame, batch_id: int,
                        store_path: str) -> None:
    """Upsert one micro-batch of (re-)emitted window rows into the
    store: within each touched date partition, keep existing rows whose
    key is NOT superseded by the batch, union the batch, and rewrite
    ONLY those partitions (dynamic partition overwrite).  Re-running a
    batch is idempotent — the same keys replace themselves."""
    from pyspark.errors import AnalysisException

    spark = batch_df.sparkSession
    b = batch_df.withColumn("w_date", F.to_date("w_start"))
    try:
        store = spark.read.parquet(store_path)
    except AnalysisException as exc:
        # ONLY the first-batch cases may be swallowed (round-8
        # review: a broad except
        # treated a TRANSIENT read failure on an existing store as
        # "first batch" and appended duplicate keys permanently)
        cond = getattr(exc, "getCondition", None) or getattr(
            exc, "getErrorClass", None
        )
        klass = str(cond() or "") if cond is not None else ""
        missing = (
            "PATH_NOT_FOUND" in klass
            or "UNABLE_TO_INFER_SCHEMA" in klass
            or "Path does not exist" in str(exc)
        )
        if not missing:
            raise
        b.write.mode("append").partitionBy("w_date").parquet(store_path)
        return
    touched = [r[0] for r in b.select("w_date").distinct().collect()]
    keep = store.filter(F.col("w_date").isin(touched)).join(
        b.select(*_KEYS), _KEYS, "left_anti"
    )
    # MATERIALIZE the merged rows BEFORE overwriting the path they were
    # read from: without this, the overwrite job's tasks read the very
    # parquet files the commit is replacing — a task retry or
    # speculative attempt that re-opens them after the commit starts
    # fails the job (read-while-overwrite hazard).  localCheckpoint
    # pins the rows in executor block storage and cuts the lineage back
    # to the store files entirely.
    merged = keep.unionByName(b).localCheckpoint(eager=True)
    # Dynamic partition overwrite is the correctness contract (static
    # would DELETE every untouched history partition).  Set the session
    # conf for the write (writer option alone is belt) and verify the
    # resolved value before touching the store.
    conf_key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(conf_key, None)
    spark.conf.set(conf_key, "dynamic")
    try:
        assert spark.conf.get(conf_key).lower() == "dynamic", (
            "partitionOverwriteMode did not resolve to dynamic; "
            "refusing to overwrite the rollup store (static mode would "
            "drop untouched history partitions)"
        )
        (
            merged.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("w_date")
            .parquet(store_path)
        )
    finally:
        if prev is None:
            spark.conf.unset(conf_key)
        else:
            spark.conf.set(conf_key, prev)


def continuous_rollup(
    events: DataFrame,
    store_path: str,
    checkpoint_path: str,
    width: str = "1 hour",
    watermark: str = "1 hour",
    available_now: bool = True,
):
    """Maintain the hourly rollup store from an event stream.  Update
    output mode: every micro-batch re-emits the windows it changed and
    the sink replaces them by key — the store converges to exactly the
    batch ``hourly_rollup`` over all consumed data."""
    agg = hourly_rollup(events, width, watermark)

    def body(df: DataFrame, bid: int) -> None:
        rollup_upsert_batch(df, bid, store_path)

    from ros_sql_spark.streaming.util import start_foreach_batch

    return start_foreach_batch(agg, body, checkpoint_path, available_now)
