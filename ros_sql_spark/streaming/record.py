"""Live multi-topic recording — the streaming twin of the reference's
``record.py`` end-to-end (SURVEY.md §3.1).

The reference subscribes N ROS topics at once and lands each message in
that topic's normalized tables.  Here the live bus is a multiplexed
streaming DataFrame carrying a topic column; each micro-batch is
demultiplexed and each topic's messages appended, still nested, to the
one snapshot table per topic that ``api.playback`` reads — so record →
store → ordered replay is one continuous, catalog-described pipeline:

    cat = declare_topics(store, {"click": schema, ...}, ["event_id"])
    q = record_stream(stream, "event_type", store, ["event_id"], ck)
    q.awaitTermination()
    playback(spark, store, "click")          # ns-ordered replay

Schema declaration happens UP FRONT (R1: declare-before-write; R15:
idempotent re-declare) — a topic arriving in the stream without a
catalog entry is an error surfaced at declare time, not silent schema
drift at write time.

Scale notes: a micro-batch costs the topic probe (a distinct over the
cached batch) plus one commit job per topic — 5 jobs for a 3-topic batch.
The file recorder commits each topic's frame once, as nested parquet
(Parquet shreds nested records into columns itself), to its snapshot
table; the rest of a commit is driver-side manifest work (a head read,
one footer read per new file for the ts and key stats, one manifest
publish), no Spark job.  Only the JDBC sink shreds with
operators.normalize, one commit per (topic, normalized table) — 6 tables
per topic for a message with two nested levels and two arrays.
The JDBC sink's probe also bounds each topic's keys, which decides
against the topic's high-water mark whether its commits are plain
appends or key anti-joins.
Commits are independent, so ``_commit_concurrently`` runs them side by
side, at most ``defaultParallelism`` at a time: on small batches (the
streaming norm) each job is mostly fixed driver cost (~0.3 s), which
overlaps across commits instead of adding up; a commit whose job already
fills the cluster just queues its tasks behind the others on the FIFO
scheduler.  The batch stays the unit of commit: the body returns only
after every commit has finished, and fails if any of them failed.
"""

from __future__ import annotations

import functools
import os
from concurrent.futures import ThreadPoolExecutor

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.util import inheritable_thread_target

from ros_sql_spark.api import (
    CATALOG_FILE,
    _meta_to_dict,
    _stats_cols,
    _topic_path,
)
from ros_sql_spark.operators.normalize import normalize
from ros_sql_spark.sources.catalog import EngineCatalog, namify
from ros_sql_spark.sources.snapshot import snapshot_append_batch

__all__ = ["declare_topics", "record_stream", "record_stream_jdbc"]

# Prefix of every JDBC table record_stream_jdbc writes: it guards against
# topic names that are SQL reserved words (a bare topic "view" is a
# Derby/ANSI syntax error as a table name) — the same class of problem
# the reference's identifier mangling (R3) solves for column names.
_JDBC_TABLE_PREFIX = "rs_"


def declare_topics(
    store_path: str,
    topics: dict[str, T.StructType],
    key_cols: list[str],
    ts_col: str | None = "ts_ns",
) -> EngineCatalog:
    """R1/R15: declare every topic's schema before any message lands.

    The backref ledger is derived by dry-running the shred planner on an
    empty frame of the declared schema: it describes the flat tables the
    JDBC sink writes and ``api.tables`` derives, and it is part of the
    identical re-declare check.
    """
    from ros_sql_spark.session import get_spark

    cat_path = os.path.join(store_path, CATALOG_FILE)
    catalog = (
        EngineCatalog.load(cat_path) if os.path.exists(cat_path) else EngineCatalog()
    )
    spark = get_spark()
    for topic, schema in topics.items():
        empty = spark.createDataFrame([], schema)
        norm = normalize(empty, list(key_cols), table=namify(topic))
        catalog.add_topic(
            topic,
            schema,
            key_cols=list(key_cols),
            ts_col=ts_col if ts_col in schema.names else None,
            children=[_meta_to_dict(m) for m in norm.children],
        )
    os.makedirs(store_path, exist_ok=True)
    catalog.save(cat_path)
    return catalog


def record_stream(
    stream: DataFrame,
    topic_col: str,
    store_path: str,
    key_cols: list[str],
    checkpoint_path: str,
    available_now: bool = True,
    dedup_keys: list[str] | None = None,
    dedup_watermark: str = "1 hour",
    dedup_ts_col: str = "ts",
):
    """R12/R7 twins: demux a multiplexed stream into one nested snapshot
    table per topic, micro-batch-at-a-time.

    Topic values in ``topic_col`` must match declared topic names
    (declare_topics).  Undeclared values fail the batch loudly — the
    reference's declare-before-write contract.  ``key_cols`` must equal
    the keys every topic was declared with (playback orders by the
    declared keys); a mismatch raises ``ValueError`` before the query
    starts.

    ``dedup_keys``: dedup-on-ingest — keep the FIRST occurrence per key
    within the ``dedup_watermark`` horizon before demux
    (dropDuplicatesWithinWatermark: bounded state, the streaming twin of
    operators.dedup.exact_dedup).  A replayed/at-least-once UPSTREAM
    (the normal case for message transports) then lands exactly one row
    per key — asserted in tests/test_record_stream.py.

    Delivery contract: exactly-once per checkpoint, atomic per batch.
    Each topic's batch lands in one snapshot commit that readers see
    whole or not at all; a batch replayed from the same checkpoint (a
    crash between the commit and the checkpoint's commit log) is
    skipped by its writer's batch watermark, the writer being the
    streaming query id the checkpoint keeps.  A fresh checkpoint is a
    new writer: a new session's messages land, and so does a full
    redelivery, as a second whole copy of every message.  Only
    ``record_stream_jdbc`` dedups across checkpoints, by message key.
    """
    catalog = EngineCatalog.load(os.path.join(store_path, CATALOG_FILE))
    differing = {
        topic: list(entry.key_cols)
        for topic, entry in catalog.topics.items()
        if list(entry.key_cols) != list(key_cols)
    }
    if differing:
        raise ValueError(
            f"key_cols {list(key_cols)} differ from the declared keys "
            f"{differing}; pass the keys declare_topics recorded"
        )
    if dedup_keys:
        from ros_sql_spark.streaming.stateful import streaming_dedup

        stream = streaming_dedup(
            stream, list(dedup_keys), watermark=dedup_watermark, ts_col=dedup_ts_col
        )

    def commits(topic: str, frame: DataFrame, batch_id: int, _probe) -> list:
        table = _topic_path(store_path, topic)
        stats = _stats_cols(catalog.topics[topic])
        writer = frame.sparkSession.sparkContext.getLocalProperty(
            "sql.streaming.queryId"
        )
        return [
            lambda: snapshot_append_batch(
                frame, table, batch_id, stats_cols=stats, writer=writer
            )
        ]

    return _start(stream, topic_col, catalog, commits, checkpoint_path, available_now)


def record_stream_jdbc(
    stream: DataFrame,
    topic_col: str,
    store_path: str,
    checkpoint_path: str,
    url: str,
    driver: str | None = None,
    available_now: bool = True,
):
    """The full north-star pipeline (BASELINE 'Structured Streaming +
    JDBC sink'): demux a multiplexed stream, shred per topic with
    operators.normalize, and land every normalized table in a JDBC
    database EXACTLY-ONCE, one ``rs_<table>`` table per normalized
    table (see :data:`_JDBC_TABLE_PREFIX`).

    Each table's idempotency key is its own primary key — the declared
    topic keys plus any shredding index columns that table carries
    (``_idx__*``), which is exactly the key the reference's child tables
    are keyed by.  Child keys start with the topic keys, so one key
    high-water mark per topic (sources/jdbc.py::jdbc_raise_high_water)
    bounds every row of its tables.  Before a batch writes, the topic
    probe's key bounds raise that mark to the batch's largest key.  A
    batch whose keys are unique, non-NULL and all above the previous
    mark cannot meet a stored row, so its tables are plain appends: no
    JDBC read and no extra Spark job.  Any other batch — a redelivery
    (checkpoint loss, upstream replay, a retry after a crash), keys out
    of order, a repeated key, or a topic with no mark yet — takes
    jdbc_idempotent_batch, which anti-joins every table on its key
    before the vectorized append and so inserts nothing twice.  Only
    integral and string keys are marked; a topic keyed otherwise always
    takes the anti-join.

    The topic catalog is read from ``store_path`` (declare_topics) —
    declare-before-write holds for the JDBC store exactly as for the
    file store.
    """
    from ros_sql_spark.sources.jdbc import jdbc_raise_high_water

    catalog = EngineCatalog.load(os.path.join(store_path, CATALOG_FILE))
    # the probe bounds one key shared by every topic, of integral or
    # string columns: Spark orders those as Python orders the mark
    key_sets = {tuple(entry.key_cols) for entry in catalog.topics.values()}
    (shared,) = key_sets if len(key_sets) == 1 else [()]
    types = {f.name: f.dataType for f in stream.schema.fields}
    marked = bool(shared) and all(
        isinstance(types.get(k), T.IntegralType) or types.get(k) == T.StringType()
        for k in shared
    )
    probe = _key_bounds(list(shared)) if marked else None

    def commits(topic: str, frame: DataFrame, batch_id: int, bounds) -> list:
        keys = list(catalog.topics[topic].key_cols)
        norm = normalize(frame, keys, table=namify(topic))
        # root first: it names the topic's mark
        names = [norm.root, *(n for n in norm.tables if n != norm.root)]
        tables = {_JDBC_TABLE_PREFIX + n: norm.tables[n] for n in names}
        append = False
        if marked and bounds["_hi"] is not None:
            prev = jdbc_raise_high_water(
                frame.sparkSession,
                url,
                list(tables),
                keys,
                tuple(bounds["_hi"]),
                driver=driver,
            )
            append = (
                prev is not None
                and bounds["_n"] == bounds["_n_keys"]
                and tuple(bounds["_lo"]) > prev
            )
        return [
            functools.partial(
                _commit_table,
                tbl,
                table,
                [c for c in tbl.columns if c in keys or c.startswith("_idx__")],
                batch_id,
                url,
                driver,
                append,
            )
            for table, tbl in tables.items()
        ]

    return _start(
        stream, topic_col, catalog, commits, checkpoint_path, available_now, probe
    )


def _key_bounds(keys: list[str]) -> list:
    """The JDBC sink's additions to the topic probe: rows (``_n``),
    distinct fully non-NULL keys (``_n_keys``: equal to ``_n`` only when
    every key is unique and non-NULL), and the smallest and largest fully
    non-NULL key (``_lo``/``_hi``, structs ordered as Python orders
    tuples of ints or of strs)."""
    keyed = functools.reduce(lambda a, b: a & b, [F.col(k).isNotNull() for k in keys])
    key = F.when(keyed, F.struct(*keys))
    return [
        F.count(F.lit(1)).alias("_n"),
        F.count_distinct(*[F.col(k) for k in keys]).alias("_n_keys"),
        F.min(key).alias("_lo"),
        F.max(key).alias("_hi"),
    ]


def _commit_table(tbl, table, key_cols, batch_id, url, driver, append) -> None:
    """Land one normalized table of a batch: a plain append when the batch
    lies above its topic's high-water mark, else the key anti-join."""
    from ros_sql_spark.sources import jdbc

    if append:
        jdbc.write_jdbc(tbl, url, table, driver=driver)
    else:
        jdbc.jdbc_idempotent_batch(tbl, batch_id, url, table, key_cols, driver=driver)


def _demux(
    batch: DataFrame, topic_col: str, catalog: EngineCatalog, probe: list | None
):
    """Yield (topic, frame, probe row) for every topic present in the
    micro-batch, enforcing the R1/R15 declare-before-write and
    schema-stability guards.  The probe is one job: the distinct topics,
    or, when the sink passes ``probe`` aggregates, those per topic."""
    declared = set(catalog.topics)
    if probe:
        rows = batch.groupBy(topic_col).agg(*probe).collect()
    else:
        rows = batch.select(topic_col).distinct().collect()
    seen = {r[0]: r for r in rows}
    unknown = set(seen) - declared
    if unknown:
        raise ValueError(
            f"stream carries undeclared topics {sorted(unknown)}; "
            "declare_topics them first (R1 declare-before-write)"
        )
    for topic, row in seen.items():
        sub = batch.filter(F.col(topic_col) == topic).drop(topic_col)
        declared_schema = catalog.schema_of(topic)
        # compare (name, type, nullability) — NOT field metadata: stream
        # operators stamp metadata on columns (e.g. withWatermark adds
        # watermark delay to the event-time field), which is not a
        # declaration mismatch.
        stripped = lambda sch: [(f.name, f.dataType, f.nullable) for f in sch.fields]
        if stripped(sub.schema) != stripped(declared_schema):
            raise ValueError(
                f"topic {topic!r}: stream schema "
                f"{sub.schema.simpleString()} != declared "
                f"{declared_schema.simpleString()} (R15 guard)"
            )
        yield topic, sub, row


def _commit_concurrently(spark, commits: list) -> None:
    """Run one micro-batch's table commits as concurrent Spark jobs and
    return once ALL of them have finished.

    Each thunk runs under ``inheritable_thread_target`` so the streaming
    thread's local properties (job group, streaming query/batch ids) and
    session tags carry over to its jobs.  At most ``defaultParallelism``
    commits run at once, which also bounds a JDBC sink's connections at
    ``defaultParallelism × num_partitions``.  The first failure (in
    commit order) is re-raised only after every commit has stopped, so a
    failed batch fails — and is redelivered — under the sink's own
    contract with no commit of it still running behind the error."""
    if not commits:
        return
    workers = min(len(commits), spark.sparkContext.defaultParallelism)
    with ThreadPoolExecutor(max_workers=workers) as pool:
        futures = [pool.submit(inheritable_thread_target(spark)(c)) for c in commits]
    for f in futures:
        f.result()


def _start(
    stream: DataFrame,
    topic_col: str,
    catalog: EngineCatalog,
    commits,
    checkpoint_path: str,
    available_now: bool,
    probe: list | None = None,
):
    """Start ``stream`` through the recorders' shared foreachBatch body:
    cache the batch, demux it, and run every commit thunk the sink's
    ``commits(topic, frame, batch_id, probe_row)`` returns concurrently.
    ``probe``: aggregates the sink needs per topic, computed in the topic
    probe's job (see _demux)."""
    from ros_sql_spark.streaming.util import start_foreach_batch

    def body(batch: DataFrame, batch_id: int) -> None:
        batch = batch.cache()
        try:
            thunks = [
                c
                for topic, frame, row in _demux(batch, topic_col, catalog, probe)
                for c in commits(topic, frame, batch_id, row)
            ]
            _commit_concurrently(batch.sparkSession, thunks)
        finally:
            batch.unpersist()

    return start_foreach_batch(stream, body, checkpoint_path, available_now)
