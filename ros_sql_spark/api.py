"""Top-level record/playback API — the reference's user-facing workflow.

strawlab/ros_sql's user story: point ``record.py`` at live topics and a
DB URL → schemas are created, messages land as normalized rows, a
catalog describes the mapping; later ``playback.py`` replays messages in
original timestamp order, optionally a time range (SURVEY.md §3.1/§3.3).

Engine equivalent over a file store of snapshot tables:

    record(spark, {"/robot1/pose": df}, store)   # R1+R7+R10+R15
    playback(spark, store, "/robot1/pose",       # R11+R13+R14
             t0_ns=..., t1_ns=...)
    tables(spark, store, "/robot1/pose")         # R4+R5 relational views

``record`` appends each topic once, as one atomic commit to the topic's
nested snapshot table (sources/snapshot.py; Parquet shreds nested
records into columns itself, with repetition and definition levels),
and persists the versioned catalog with the backref ledger.
``record_stream`` (streaming/record.py) writes the same tables.
``playback`` loads the catalog, reads the topic's table from its
manifest, skips files outside the time range by their recorded ts
bounds, applies the range and returns rows ordered by record time — one
scan plus one sort instead of the reference's N+1 per-row SELECTs;
sink-side pacing is the caller's concern, exactly as in the reference.
``tables`` exposes the reference's normalized child tables as lazy
operators.normalize views over the stored table; the JDBC recorder
(streaming/record.py) is the one sink that stores them flat.
``expire`` drops a topic's messages older than a cutoff in one commit.

Filesystem note: table data (parquet files, snapshot manifests) goes
through Spark/Hadoop IO and works on any supported filesystem; the
small catalog JSON is read/written with plain ``open()`` and is the one
LOCAL-PATH piece of this API — point ``store_path`` at a shared local/
NFS path, or persist the catalog out-of-band for object-store stores.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ros_sql_spark.operators.normalize import ChildMeta, normalize
from ros_sql_spark.sources.catalog import EngineCatalog, TopicEntry, namify
from ros_sql_spark.sources.snapshot import (
    snapshot_commit,
    snapshot_delete,
    snapshot_read,
)

__all__ = ["record", "playback", "tables", "expire", "CATALOG_FILE"]

CATALOG_FILE = "_rosql_catalog.json"


def _meta_to_dict(m: ChildMeta) -> dict:
    # element_schema may be any DataType; StructType is the only one with
    # a public fromJson, so serialize it wrapped in a one-field struct.
    wrapped = T.StructType([T.StructField("e", m.element_schema)])
    return {
        "table": m.table,
        "parent": m.parent,
        "field": m.field,
        "kind": m.kind,
        "key_cols": m.key_cols,
        "idx_col": m.idx_col,
        "marker_col": m.marker_col,
        "element_schema": wrapped.json(),
    }


def _topic_path(store_path: str, topic: str) -> str:
    """Where a file store keeps ``topic``'s nested table."""
    table = namify(topic)
    return os.path.join(store_path, table, table)


def _stats_cols(entry: TopicEntry) -> list[str]:
    """The columns whose per-file min/max every commit of a topic
    records: its ts column, by which playback windows and ``expire``
    skip whole files, and its keys."""
    return list(dict.fromkeys(c for c in (entry.ts_col, *entry.key_cols) if c))


def record(
    spark: SparkSession,
    topics: dict[str, DataFrame],
    store_path: str,
    key_cols: list[str] | None = None,
    ts_col: str | None = "ts_ns",
) -> EngineCatalog:
    """Record topic DataFrames into the nested store (R1/R7/R10/R15).

    Each topic is appended in one atomic commit to its nested snapshot
    table at ``store_path/<mangled_topic>/<mangled_topic>``, and the catalog
    created/merged with idempotent re-declare semantics (the backref
    ledger comes from a dry-run ``normalize``, exactly as
    ``declare_topics`` derives it).  ``key_cols`` defaults to the
    topic's first column plus ``ts_col`` if present — pass explicit
    keys for production use.
    """
    cat_path = os.path.join(store_path, CATALOG_FILE)
    catalog = (
        EngineCatalog.load(cat_path)
        if os.path.exists(cat_path)
        else EngineCatalog()
    )
    for topic, df in topics.items():
        # default keys honor the documented contract: first column PLUS
        # ts_col when present — keys must identify a message for the
        # relational views (tables) and the JDBC sink
        if key_cols:
            keys = list(key_cols)
        else:
            keys = [df.columns[0]]
            if ts_col in df.columns and ts_col not in keys:
                keys.append(ts_col)
        table = namify(topic)
        ledger = normalize(df, keys, table=table).children
        entry = catalog.add_topic(
            topic,
            df.schema,
            key_cols=keys,
            ts_col=ts_col if ts_col in df.columns else None,
            children=[_meta_to_dict(m) for m in ledger],
        )
        snapshot_commit(
            df,
            _topic_path(store_path, topic),
            mode="append",
            stats_cols=_stats_cols(entry),
        )
    os.makedirs(store_path, exist_ok=True)
    catalog.save(cat_path)
    return catalog


def _stored(
    spark: SparkSession, store_path: str, topic: str, prune: dict | None = None
) -> DataFrame:
    """The topic's snapshot table, read with its manifest's schema;
    ``prune`` may skip files by their recorded stats.  No Spark job."""
    path = _topic_path(store_path, topic)
    try:
        return snapshot_read(spark, path, prune=prune)
    except FileNotFoundError as exc:
        # A topic the catalog lists but whose table is gone is a
        # corrupted store — fail loudly and diagnosably, never replay
        # zero rows (silent empty playback is worse than an error).
        raise FileNotFoundError(
            f"store table {path} has no snapshot but the catalog lists "
            "its topic — the store was moved or partially deleted"
        ) from exc


def playback(
    spark: SparkSession,
    store_path: str,
    topic: str,
    t0_ns: int | None = None,
    t1_ns: int | None = None,
) -> DataFrame:
    """Recorded messages in record-time order (R11/R13/R14).

    Returns the topic's original schema, ordered by its timestamp column
    (exact ns), optionally restricted to ``[t0_ns, t1_ns)``.  The store
    holds messages nested, so a replay is one scan plus one sort.
    """
    catalog = EngineCatalog.load(os.path.join(store_path, CATALOG_FILE))
    entry = catalog.topics[topic]
    # time-range data skipping: every commit records per-file ts
    # min/max (_stats_cols), so a [t0, t1) replay drops whole files at
    # the MANIFEST tier before Spark opens anything — the hypertable
    # chunk-exclusion shape.  Inclusive-bound form of
    # the half-open interval: hi = t1 - 1 (integer ns).  Pruning never
    # changes results, the exact filter below still runs.
    prune = None
    if entry.ts_col and (t0_ns is not None or t1_ns is not None):
        prune = {
            entry.ts_col: (
                t0_ns,
                t1_ns - 1 if t1_ns is not None else None,
            )
        }
    df = _stored(spark, store_path, topic, prune)
    if entry.ts_col:
        ts = F.col(entry.ts_col)
        if t0_ns is not None:
            df = df.filter(ts >= F.lit(t0_ns))
        if t1_ns is not None:
            df = df.filter(ts < F.lit(t1_ns))
        df = df.orderBy(entry.ts_col, *entry.key_cols)
    return df


def tables(spark: SparkSession, store_path: str, topic: str) -> dict[str, DataFrame]:
    """The topic's relational tables (R4/R5): lazy ``normalize`` views
    over its stored nested table — the shape the JDBC sink writes."""
    catalog = EngineCatalog.load(os.path.join(store_path, CATALOG_FILE))
    entry = catalog.topics[topic]
    df = _stored(spark, store_path, topic)
    return normalize(df, list(entry.key_cols), table=entry.table).tables


def expire(
    spark: SparkSession,
    store_path: str,
    topic: str,
    older_than_ns: int,
) -> dict[str, int]:
    """Retention: atomically drop every message of ``topic`` recorded
    before ``older_than_ns``.  The missing half of R14's time-range story —
    playback selects a window, expire RECLAIMS everything before one.

    100 TB shape: one :func:`~ros_sql_spark.sources.snapshot.snapshot_delete`
    with ts bounds on the topic's table, so files wholly inside the
    expired range (the bulk of a time-appended store) leave the manifest
    METADATA-ONLY, and only the file straddling the cutoff rewrites.
    Messages are stored whole, so their arrays and structs leave with
    them.  One commit, so a crash leaves the store before or after the
    expire and a re-run is a no-op.  Bytes are reclaimed by
    ``snapshot_vacuum``, as always.  Returns ``{table_name: version}``.
    Works on every store ``record`` or ``record_stream`` wrote; the
    topic needs a ``ts_col``.
    """
    catalog = EngineCatalog.load(os.path.join(store_path, CATALOG_FILE))
    entry = catalog.topics[topic]
    if not entry.ts_col:
        raise ValueError(f"topic {topic} has no ts_col: nothing to expire by")
    bounds = {entry.ts_col: (None, older_than_ns - 1)}  # ts < older_than_ns
    version = snapshot_delete(
        spark,
        _topic_path(store_path, topic),
        prune=bounds,
        tag=f"expire:{older_than_ns}",
    )
    return {entry.table: version}


def paced_replay(
    df: DataFrame,
    ts_col: str = "ts_ns",
    speedup: float = 1.0,
):
    """R13's pacing twin: iterate replayed rows with original inter-message
    delays (scaled by ``speedup``).

    Yields ``(sleep_seconds, row)`` — the caller publishes and sleeps
    (pacing is inherently sink-side; the reference sleeps between
    rospy.publish calls).  Uses toLocalIterator so only one partition is
    resident driver-side at a time; rows stream in ``ts_col`` order
    because playback() pre-sorts.
    """
    prev = None
    for row in df.toLocalIterator():
        t = row[ts_col]
        sleep = 0.0 if prev is None else max(0.0, (t - prev) / 1e9 / speedup)
        prev = t
        yield sleep, row
