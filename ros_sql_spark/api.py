"""Top-level record/playback API — the reference's user-facing workflow.

strawlab/ros_sql's user story: point ``record.py`` at live topics and a
DB URL → schemas are created, messages land as normalized rows, a
catalog describes the mapping; later ``playback.py`` replays messages in
original timestamp order, optionally a time range (SURVEY.md §3.1/§3.3).

Engine equivalent over a parquet store (swap the writers for
``df.write.jdbc`` against a real database — the layout is identical):

    record(spark, {"/robot1/pose": df}, store)   # R1+R7+R10+R15
    playback(spark, store, "/robot1/pose",       # R11+R13+R14
             t0_ns=..., t1_ns=...)

``record`` shreds each topic with operators.normalize (child tables per
array/struct field), writes every table, and persists the versioned
catalog with the backref ledger.  ``playback`` loads the catalog,
reassembles via denormalize (one shuffle per child table instead of the
reference's N+1 per-row SELECTs), applies the time range, and returns
rows ordered by record time — sink-side pacing is the caller's concern,
exactly as in the reference.

Filesystem note: table data (parquet dirs, snapshot manifests) goes
through Spark/Hadoop IO and works on any supported filesystem; the
small catalog JSON is read/written with plain ``open()`` and is the one
LOCAL-PATH piece of this API — point ``store_path`` at a shared local/
NFS path, or persist the catalog out-of-band for object-store stores.
"""

from __future__ import annotations

import json
import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ros_sql_spark.operators.normalize import (
    ChildMeta,
    NormalizedTables,
    denormalize,
    normalize,
)
from ros_sql_spark.sources.catalog import EngineCatalog, namify


def _store_tables(spark: SparkSession, base: str) -> list[tuple[str, bool]]:
    """(table_name, is_snapshot_table) for every table dir under a
    topic's store base, listed through the Hadoop FS abstraction — the
    store itself works on any Hadoop-supported filesystem (the CATALOG
    JSON is the one deliberately local piece; see module note)."""
    from ros_sql_spark.sources.snapshot import _fs

    fs, p, jvm = _fs(spark, base)
    if not fs.exists(p):
        # A topic the catalog lists but whose table dir is gone is a
        # corrupted store — fail loudly and diagnosably, never iterate
        # zero tables (silent empty playback is worse than an error).
        raise FileNotFoundError(
            f"store directory {base} does not exist but the catalog "
            "lists its topic — the store was moved or partially deleted"
        )
    out = []
    for st in fs.listStatus(p):
        if not st.isDirectory():
            continue
        name = st.getPath().getName()
        is_snap = fs.exists(
            jvm.org.apache.hadoop.fs.Path(f"{base}/{name}/_manifests")
        )
        out.append((name, is_snap))
    return sorted(out)

__all__ = ["record", "playback", "expire", "CATALOG_FILE"]

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


def _meta_from_dict(d: dict) -> ChildMeta:
    dt = T.StructType.fromJson(json.loads(d["element_schema"]))["e"].dataType
    return ChildMeta(
        table=d["table"],
        parent=d["parent"],
        field=d["field"],
        kind=d["kind"],
        key_cols=list(d["key_cols"]),
        idx_col=d["idx_col"],
        marker_col=d["marker_col"],
        element_schema=dt,
    )


def record(
    spark: SparkSession,
    topics: dict[str, DataFrame],
    store_path: str,
    key_cols: list[str] | None = None,
    ts_col: str | None = "ts_ns",
    mode: str = "append",
) -> EngineCatalog:
    """Record topic DataFrames into a normalized store (R1/R7/R10/R15).

    Each topic is shredded (normalize), every resulting table written
    under ``store_path/<mangled_topic>/<table>``, and the catalog
    created/merged with idempotent re-declare semantics.  ``key_cols``
    defaults to the topic's first column plus ``ts_col`` if present —
    pass explicit keys for production use.
    """
    cat_path = os.path.join(store_path, CATALOG_FILE)
    catalog = (
        EngineCatalog.load(cat_path)
        if os.path.exists(cat_path)
        else EngineCatalog()
    )
    for topic, df in topics.items():
        # default keys honor the documented contract: first column PLUS
        # ts_col when present — dropping the timestamp made keys
        # non-unique for repeated-entity topics, and normalize's
        # duplicate-key merge then corrupted reassembly silently
        # (round-8 review)
        if key_cols:
            keys = list(key_cols)
        else:
            keys = [df.columns[0]]
            if ts_col in df.columns and ts_col not in keys:
                keys.append(ts_col)
        norm = normalize(df, keys, table=namify(topic))
        catalog.add_topic(
            topic,
            df.schema,
            key_cols=keys,
            ts_col=ts_col if ts_col in df.columns else None,
            children=[_meta_to_dict(m) for m in norm.children],
        )
        base = os.path.join(store_path, namify(topic))
        for name, tbl in norm.tables.items():
            tbl.write.mode(mode).parquet(os.path.join(base, name))
    os.makedirs(store_path, exist_ok=True)
    catalog.save(cat_path)
    return catalog


def playback(
    spark: SparkSession,
    store_path: str,
    topic: str,
    t0_ns: int | None = None,
    t1_ns: int | None = None,
) -> DataFrame:
    """Reassembled messages in record-time order (R11/R13/R14).

    Returns the topic's original schema, ordered by its timestamp column
    (exact ns), optionally restricted to ``[t0_ns, t1_ns)``.  Set-based:
    the whole replay is joins + one sort, no per-row round-trips.
    """
    catalog = EngineCatalog.load(os.path.join(store_path, CATALOG_FILE))
    entry = catalog.topics[topic]
    schema = catalog.schema_of(topic)
    base = os.path.join(store_path, entry.table)
    children = [_meta_from_dict(d) for d in entry.children]
    # each table's schema from dry-running the shred planner on an empty
    # frame of the declared schema (as declare_topics derives the
    # ledger): building the replay then launches no parquet footer-
    # inference job per table
    shredded = normalize(
        spark.createDataFrame([], schema), list(entry.key_cols), table=entry.table
    ).tables
    tables = {}
    # time-range data skipping: snapshot stores record per-file ts
    # min/max (record_stream_snapshot), so a [t0, t1) replay drops
    # whole files at the MANIFEST tier before Spark opens anything —
    # the hypertable chunk-exclusion shape.  Inclusive-bound form of
    # the half-open interval: hi = t1 - 1 (integer ns).  Tables
    # without the ts column (or without stats) are unaffected —
    # pruning never changes results, the exact filter below still runs.
    prune = None
    if entry.ts_col and (t0_ns is not None or t1_ns is not None):
        prune = {
            entry.ts_col: (
                t0_ns,
                t1_ns - 1 if t1_ns is not None else None,
            )
        }
    # child tables are pruned by ts ONLY when the ts column is one of
    # the PARENT KEYS carried into every child — a shredded element
    # field that merely shares the ts name holds element-level values,
    # and pruning on those dropped in-window messages' array elements
    # silently (round-8 review)
    child_prune = (
        prune if entry.ts_col and entry.ts_col in entry.key_cols else None
    )
    for name, is_snap in _store_tables(spark, base):
        tdir = os.path.join(base, name)
        if is_snap:
            # snapshot-table store (record_stream_snapshot): read the
            # current manifest's files — same shape, atomic visibility
            from ros_sql_spark.sources.snapshot import snapshot_read

            tables[name] = snapshot_read(
                spark,
                tdir,
                prune=prune if name == entry.table else child_prune,
            )
        else:
            tables[name] = spark.read.schema(shredded[name].schema).parquet(tdir)
    norm = NormalizedTables(
        root=entry.table,
        keys=list(entry.key_cols),
        schema=schema,
        tables=tables,
        children=children,
    )
    df = denormalize(norm)
    if entry.ts_col:
        ts = F.col(entry.ts_col)
        if t0_ns is not None:
            df = df.filter(ts >= F.lit(t0_ns))
        if t1_ns is not None:
            df = df.filter(ts < F.lit(t1_ns))
        df = df.orderBy(entry.ts_col, *entry.key_cols)
    return df


def expire(
    spark: SparkSession,
    store_path: str,
    topic: str,
    older_than_ns: int,
) -> dict[str, int]:
    """Retention for a SNAPSHOT-table store (record_stream_snapshot):
    atomically drop every message of ``topic`` recorded before
    ``older_than_ns``.  The missing half of R14's time-range story —
    playback selects a window, expire RECLAIMS everything before one.

    100 TB shape: the root table expires by timestamp —
    :func:`~ros_sql_spark.sources.snapshot.snapshot_delete` with ts
    bounds, so files wholly inside the expired range (the bulk of a
    time-appended store) leave the manifest METADATA-ONLY, and only the
    file straddling the cutoff rewrites.  Child tables carry no
    timestamp; their rows expire by PARENT KEY via
    :func:`~ros_sql_spark.sources.snapshot.snapshot_delete_keys` — an
    exact file-bounds keyed anti-delete, and the doomed-key frame is
    read from ONLY the expired-range root files (manifest ts pruning),
    never a full root scan.  Bytes are reclaimed by ``snapshot_vacuum``
    per table, as always.

    Ordering/retry contract: children are purged BEFORE the root, so a
    crash mid-expire leaves root rows with already-empty children —
    re-running the same expire finds those root keys still present and
    completes (idempotent under retry); the reverse order would strand
    orphaned child rows invisible to any rerun.  Returns
    ``{table_name: version}`` for the tables that committed.

    Requires a snapshot store whose topic has a ``ts_col`` (plain
    parquet stores have no atomic-delete substrate — use the snapshot
    recorder).
    """
    from ros_sql_spark.sources.snapshot import (
        snapshot_delete,
        snapshot_delete_keys,
        snapshot_read,
    )

    catalog = EngineCatalog.load(os.path.join(store_path, CATALOG_FILE))
    entry = catalog.topics[topic]
    if not entry.ts_col:
        raise ValueError(f"topic {topic} has no ts_col: nothing to expire by")
    base = os.path.join(store_path, entry.table)
    root_dir = os.path.join(base, entry.table)
    store = dict(_store_tables(spark, base))
    if not store.get(entry.table, False):
        raise ValueError(
            f"{root_dir} is not a snapshot table — expire() needs the "
            "snapshot recorder (record_stream_snapshot)"
        )
    hi = older_than_ns - 1  # inclusive-bound form of ts < older_than_ns
    bounds = {entry.ts_col: (None, hi)}
    # Doomed parent keys, read from only the expired-range files.  The
    # frame stays valid across the root delete below: snapshot_read
    # pins the file list at resolve time and a delete never removes
    # bytes (vacuum does) — snapshot isolation doing the checkpointing.
    # persisted: each child's keyed delete evaluates the doomed frame
    # twice (candidacy probe + anti-join rewrite), so k children would
    # otherwise rescan the expired root range 2k times
    doomed = (
        snapshot_read(spark, root_dir, prune=bounds)
        .filter(F.col(entry.ts_col) <= F.lit(hi))
        .select(*entry.key_cols)
        .distinct()
        .persist()
    )
    try:
        versions: dict[str, int] = {}
        for name, is_snap in sorted(store.items()):
            tdir = os.path.join(base, name)
            if name == entry.table:
                continue
            if not is_snap:
                # silently skipping would strand orphaned child rows
                # INVISIBLE to any rerun (the doomed root keys are
                # deleted, so a retry finds nothing) — the exact
                # failure the child-before-root ordering exists to
                # prevent; fail loudly like the root check (round-8)
                raise ValueError(
                    f"{tdir} is not a snapshot table — expire() cannot "
                    "purge its rows atomically; migrate the store with "
                    "the snapshot recorder before expiring"
                )
            versions[name] = snapshot_delete_keys(
                doomed,
                tdir,
                list(entry.key_cols),
                tag=f"expire:{older_than_ns}",
            )
        versions[entry.table] = snapshot_delete(
            spark, root_dir, prune=bounds, tag=f"expire:{older_than_ns}"
        )
    finally:
        doomed.unpersist()
    return versions


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
