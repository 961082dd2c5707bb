"""Structured Streaming twins of the reference's record/playback scripts.

Reference parity (SURVEY.md §2.1/§3):
- R12 record: rospy.Subscriber callback → per-message INSERT + commit.
  Twin: ``stream_events`` — a file-source readStream over the events
  table standing in for the live topic; micro-batches replace per-message
  commits (the reference's throughput ceiling, §4.1).
- R7 insert / R13 playback sink: per-message SQL round-trips.
  Twins: the exactly-once recorders in ``streaming/record.py`` —
  ``record_stream`` (snapshot tables; a writer's batch watermark on the
  manifest, exactly-once per checkpoint) and ``record_stream_jdbc`` (a
  per-topic key high-water mark in a JDBC database, with a key
  anti-join for any batch not wholly above it).
- Watermarks + windows: the reference never aggregates (it only stores);
  our engine adds event-time session/tumbling windows with late-data
  eviction — the streaming twin of batch q16.

Scale notes:
- File-source streaming lists and checkpoints file progress — at
  production scale use ``maxFilesPerTrigger`` to bound batch size.
- State eviction: ``withWatermark`` bounds session state; without it a
  100 TB stream accumulates unbounded per-user state.
"""

from __future__ import annotations

import hashlib
import os
import tempfile

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ros_sql_spark.sources.io import (
    _EVENTS_SCHEMA,
    _TS_UNIT_NS,
    _events_ts_unit,
    events_projection,
)

__all__ = [
    "stream_events",
    "session_counts",
    "tumbling_counts",
]


def stream_events(spark: SparkSession, events_path: str) -> DataFrame:
    """R12 twin: the events table as an unbounded stream.

    Reads the same physical parquet with the same explicit INT64 schema
    as the batch loader and goes through the SAME unit probe +
    :func:`events_projection`, so the streaming shape (event_id, ts,
    ts_ns, ...) is column-for-column AND value-for-value identical to
    the batch loader regardless of the file's stored time unit — every
    batch query has a streaming twin for free.

    Spark's file stream source requires a *directory*; a single-file
    input (the driver's ``events.parquet``) is staged via a symlink in a
    scratch directory.  Production streams land files in directories.
    """
    # Probe the ORIGINAL path (works for file or directory) before any
    # staging rewrite; hardcoding ns here emitted 1970-era timestamps on
    # us-unit testdata (advisor r3, high).
    mult = _TS_UNIT_NS[_events_ts_unit(events_path)]
    if os.path.isfile(events_path):
        # Deterministic staging dir per source file: checkpoints persist the
        # source path, so resuming the same stream must resolve the same
        # directory (a random mkdtemp breaks crash-recovery — verified).
        digest = hashlib.md5(os.path.abspath(events_path).encode()).hexdigest()[:12]
        stage = os.path.join(tempfile.gettempdir(), f"rosql_stream_{digest}")
        os.makedirs(stage, exist_ok=True)
        link = os.path.join(stage, os.path.basename(events_path))
        if not os.path.exists(link):
            os.symlink(events_path, link)
        events_path = stage
    raw = (
        spark.readStream.schema(_EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(events_path)
    )
    return events_projection(raw, mult)


def session_counts(events: DataFrame, gap: str = "30 minutes",
                   watermark: str = "1 hour") -> DataFrame:
    """Sessions per user via the built-in session_window.

    Works identically on a batch OR streaming DataFrame (the engine's
    batch twin is q16_sessionize; equivalence is asserted in tests).
    Watermark applies only on the streaming side (state eviction).
    """
    ev = events
    if events.isStreaming:
        ev = events.withWatermark("ts", watermark)
    return (
        ev.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def tumbling_counts(events: DataFrame, width: str = "1 day",
                    watermark: str = "1 hour") -> DataFrame:
    """Per-type tumbling-window counts (streaming twin of q05/q59 shapes)."""
    ev = events
    if events.isStreaming:
        ev = events.withWatermark("ts", watermark)
    return (
        ev.groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("w_start"), "event_type", "n")
    )

