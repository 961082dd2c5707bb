"""Sources: parquet table loaders for the engine.

Reference parity: strawlab/ros_sql's source is a live rospy subscriber
feeding per-message INSERTs (scripts/record.py — SURVEY.md §2.1 R12) and
its analytic reads go through SQLAlchemy SELECTs.  Our batch source is
columnar parquet scans (Catalyst pushes filters/column pruning into the
scan); the streaming twin lives in ros_sql_spark.streaming.

Scale notes (100 TB):
- Loaders return *lazy* DataFrames; no collect, no driver materialization.
- ``events`` carries an explicit schema: (a) skips footer-merge schema
  inference across many files, (b) sidesteps Spark's TIMESTAMP(NANOS)
  rejection regardless of session config (SURVEY.md §1.3 hazard 1).
- At production scale ``events`` would be written date-partitioned
  (``.partitionBy(event_date)``) so time-range queries (q03) prune
  partitions; the driver's flat files still benefit from row-group
  min/max pruning on ``ts``.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

__all__ = [
    "TABLES",
    "load_table",
    "load_events",
    "load_tables",
    "read_jsonl",
    "read_csv",
    "read_orc",
    "write_orc",
    "read_binary_files",
    "write_events_partitioned",
    "read_events_partitioned",
]

# All driver tables (TESTDATA.md / FIXTURES.md Part A).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# events.ts is stored as a parquet INT64 timestamp whose unit has varied
# across driver testdata generations (TIMESTAMP(NANOS) in rounds 1-2,
# timestamp[us] in round 3).  We always request the physical INT64 as a
# long (lossless; also sidesteps Spark's TIMESTAMP(NANOS) rejection) and
# rescale to ns based on a one-time footer probe of the file's unit.
_EVENTS_SCHEMA = (
    "event_id BIGINT, ts BIGINT, user_id BIGINT, event_type STRING, "
    "value DOUBLE, props STRING"
)

_TS_UNIT_NS = {"s": 1_000_000_000, "ms": 1_000_000, "us": 1_000, "ns": 1}
# keyed on (path, mtime_ns, size): a file rewritten in place with a
# different unit (regenerated fixtures, long-lived drivers) must re-probe
_ts_unit_cache: dict[tuple, tuple[str, bool]] = {}


def _ts_unit_cache_key(path: str) -> tuple | None:
    import os

    try:
        st = os.stat(path)
        return (path, st.st_mtime_ns, st.st_size)
    except OSError:
        # non-stat-able path (object store): no change signal exists,
        # so CACHING would pin a possibly stale unit forever (round-8
        # review) — None means "probe every time" (one footer read)
        return None


def _probe_events_ts_unit(path: str) -> tuple[str, bool]:
    """Parquet-footer probe for events.ts's time unit ('ns'/'us'/'ms'/'s').

    One driver-side metadata read per distinct (path, mtime, size)
    (cached), the same cost class as schema inference — no data pages are
    touched, so this holds at 100 TB.  A bare INT64 column (no timestamp
    logical type) is treated as the raw-ns convention; unreadable footers
    (non-local filesystems without pyarrow access) fall back to 'ns', the
    engine's own write convention — WITH a warning, because a silent
    1000x mis-scale is unrecoverable downstream.  Returns (unit, probed):
    ``probed=False`` marks the fallback so range-pushdown callers can
    refuse to rewrite predicates against a guessed unit.
    """
    key = _ts_unit_cache_key(path)
    hit = _ts_unit_cache.get(key) if key is not None else None
    if hit is None:
        unit, probed = "ns", False
        try:
            import pyarrow.dataset as pads

            t = pads.dataset(path).schema.field("ts").type
            unit = getattr(t, "unit", None) or "ns"
            probed = True
        except Exception as exc:  # noqa: BLE001 — any probe failure falls back
            import warnings

            warnings.warn(
                f"events ts-unit probe failed for {path!r} ({exc!r}); "
                "assuming raw-ns. If the file stores timestamp[us/ms/s], "
                "derived timestamps will be mis-scaled.",
                stacklevel=2,
            )
        hit = (unit, probed)
        if key is not None:
            _ts_unit_cache[key] = hit
    return hit


def _events_ts_unit(path: str) -> str:
    return _probe_events_ts_unit(path)[0]


def events_projection(raw: DataFrame, mult: int) -> DataFrame:
    """Project the raw (INT64 ``ts`` in file units × ``mult`` = ns) events
    read into the engine shape — shared by the batch loader and the
    streaming twin so both expose identical columns:

      ts     TIMESTAMP — µs resolution, floor(ns/1000); safe for range
             predicates against µs-aligned bounds and for date_trunc.
      ts_ns  BIGINT    — exact ns since epoch; the total-order key for
             replay (reference orders by its recorded secs/nsecs pair —
             SURVEY.md §2.1 R13) and the ns-remainder carrier (R8).

    NB: integer `div`, never `/` — ns epochs (~1.7e18) exceed double's
    53-bit mantissa, so float division would corrupt the low microseconds.
    The ns rescale stays in long range (µs epochs × 1000 < 2^63).
    """
    ts_ns = F.col("ts") * F.lit(mult) if mult != 1 else F.col("ts")
    us_expr = f"ts div {1000 // mult}" if mult < 1000 else (
        "ts" if mult == 1000 else f"ts * {mult // 1000}"
    )
    return raw.select(
        "event_id",
        F.timestamp_micros(F.expr(us_expr)).alias("ts"),
        ts_ns.alias("ts_ns"),
        "user_id",
        "event_type",
        "value",
        "props",
    )


def _ceil_div(x: int, m: int) -> int:
    return -((-x) // m)


def _load_events(
    spark: SparkSession,
    path: str,
    ns_range: tuple[int | None, int | None] | None = None,
) -> DataFrame:
    """events with both a Spark-native µs timestamp and the lossless ns long
    (see :func:`events_projection` for the column contract).

    ``ns_range=(lo, hi)`` applies half-open time-range selection
    (reference R14) at the SOURCE: the predicate is rewritten onto the
    raw stored column in the file's own unit (``raw >= ceil(lo/mult)``
    ⟺ ``raw*mult >= lo`` — exact for integer ``raw``), so it reaches
    the parquet scan as a PushedFilter and prunes row groups via min/max
    stats.  A post-projection filter on the derived ``ts_ns`` arithmetic
    column could never be pushed — that is why range selection is a
    loader capability, mirroring the reference, where partial replay is
    a playback-source option, not a downstream filter.
    """
    unit, probed = _probe_events_ts_unit(path)
    if ns_range is not None and not probed:
        # Rewriting the range predicate into file units under a GUESSED
        # unit silently prunes essentially everything when the guess is
        # 1000x off — fail loudly instead (advisor r3).
        raise ValueError(
            f"events ts-unit probe failed for {path!r}; refusing to "
            "apply ns_range against an assumed unit. Read without "
            "ns_range and filter on ts_ns, or make the footer readable."
        )
    mult = _TS_UNIT_NS[unit]
    raw = spark.read.schema(_EVENTS_SCHEMA).parquet(path)
    if ns_range is not None:
        lo, hi = ns_range
        if lo is not None:
            raw = raw.filter(F.col("ts") >= F.lit(_ceil_div(lo, mult)))
        if hi is not None:
            raw = raw.filter(F.col("ts") < F.lit(_ceil_div(hi, mult)))
    return events_projection(raw, mult)


def load_events(
    spark: SparkSession,
    sf_dir: str,
    ns_range: tuple[int | None, int | None] | None = None,
) -> DataFrame:
    """Public R14 entry: the events table, optionally range-restricted at
    the scan (see :func:`_load_events`)."""
    return _load_events(spark, f"{sf_dir}/events.parquet", ns_range)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver table as a lazy DataFrame."""
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        return _load_events(spark, path)
    return spark.read.parquet(path)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every driver table. Lazy — zero jobs run here."""
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: str,
    keep_corrupt: bool = False,
) -> DataFrame:
    """JSON-lines corpus reader with a MANDATORY explicit schema.

    Schema inference over JSONL is a full extra pass of the data (fatal
    at 100 TB) and is nondeterministic under corpus drift, so the engine
    never allows it.  Corrupt lines don't kill the scan: PERMISSIVE mode
    nulls their fields.  With ``keep_corrupt=True`` a ``_corrupt``
    STRING column is APPENDED to the caller schema holding the raw
    offending line (null for good rows) — filter ``_corrupt IS NOT
    NULL`` to audit-route bad lines.  (OSS Spark silently ignores the
    Databricks-only ``badRecordsPath`` option, and the corrupt-record
    column only materializes when it is part of the read schema — both
    reasons this is an explicit schema-level contract, not an option.)

    Caveat: Spark rejects plans whose referenced columns are ONLY the
    corrupt column (QUERY_ONLY_CORRUPT_RECORD_COLUMN) — keep a data
    column in the projection when filtering on ``_corrupt``.
    """
    r = spark.read.option("mode", "PERMISSIVE")
    if keep_corrupt:
        r = (
            r.schema(f"{schema}, _corrupt STRING")
            .option("columnNameOfCorruptRecord", "_corrupt")
        )
    else:
        r = r.schema(schema)
    return r.json(path)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: str,
    header: bool = True,
    delimiter: str = ",",
) -> DataFrame:
    """CSV reader, explicit-schema-only (same rationale as read_jsonl:
    inference costs a pass and infers differently as data drifts)."""
    return (
        spark.read.schema(schema)
        .option("header", str(header).lower())
        .option("delimiter", delimiter)
        .option("mode", "PERMISSIVE")
        .csv(path)
    )


def read_binary_files(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    mime: str = "application/octet-stream",
) -> DataFrame:
    """Multimodal raw-asset ingest via Spark's native ``binaryFile``
    source: (asset_id, media: binary, meta{mime, source, n_bytes}) —
    the operators/multimodal.py asset shape, fed straight from files on
    any Hadoop-compatible filesystem (local, HDFS, object stores).

    asset_id is xxhash64 of the file path: deterministic across runs
    and partitionings (NEVER monotonically_increasing_id — partition-
    dependent).  The scan is distributed (one task per file group) and
    prunes to (path, length, content); pass ``glob`` (e.g. ``*.jpg``)
    to push file filtering into the listing, not a post-scan filter.
    """
    r = spark.read.format("binaryFile")
    if glob is not None:
        r = r.option("pathGlobFilter", glob)
    f = r.load(path)
    return f.select(
        F.xxhash64(F.col("path")).alias("asset_id"),
        F.col("content").alias("media"),
        F.struct(
            F.lit(mime).alias("mime"),
            F.col("path").alias("source"),
            F.col("length").cast("bigint").alias("n_bytes"),
        ).alias("meta"),
    )


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """ORC sink (Spark-native, zero extra dependencies).  Same columnar
    pushdown/pruning properties as parquet — offered because warehouse
    estates are commonly ORC-standardized (Hive lineage); the engine is
    format-agnostic at the scan boundary."""
    df.write.mode(mode).orc(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan.  Predicate pushdown and column pruning work exactly as
    for parquet (asserted in tests/test_etl_units.py)."""
    return spark.read.orc(path)


def write_events_partitioned(events: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Write events date-partitioned — the 100 TB layout for the stream
    table (SURVEY.md §4.2 partition pruning).

    Layout: ``path/event_date=YYYY-MM-DD/*.parquet``.  Time-range queries
    against :func:`read_events_partitioned` then prune whole partitions
    at planning time (PartitionFilters), on top of row-group min/max
    pruning within the day.
    """
    (
        events.withColumn("event_date", F.to_date("ts"))
        .write.mode(mode)
        .partitionBy("event_date")
        .parquet(path)
    )


def read_events_partitioned(spark: SparkSession, path: str) -> DataFrame:
    """Read the date-partitioned events store (same column shape as
    load_table + the ``event_date`` partition column).  Filter on
    ``event_date`` for partition pruning, ``ts_ns`` for row-group
    pruning inside the surviving days."""
    return spark.read.parquet(path)
