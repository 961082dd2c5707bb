"""Live multi-topic recording end-to-end: multiplexed stream → demuxed
normalized stores → catalog-driven ordered playback (the reference's
whole record.py/playback.py story as one pipeline)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest
from pyspark.sql import types as T

from ros_sql_spark.api import playback
from ros_sql_spark.sources.io import load_table
from ros_sql_spark.streaming.record import declare_topics, record_stream
from ros_sql_spark.streaming.replay import stream_events
from tests.conftest import SF_SMALL

EVENTS_PATH = f"{SF_SMALL}/events.parquet"
TOPIC_VALUES = ["click", "error", "purchase", "signup", "view"]


def _declared_schema(spark):
    # the per-topic schema = events stream schema minus the topic column
    return T.StructType(
        [f for f in stream_events(spark, EVENTS_PATH).schema.fields
         if f.name != "event_type"]
    )


def test_record_stream_then_playback(spark, tmp_path):
    store = str(tmp_path / "store")
    schema = _declared_schema(spark)
    declare_topics(store, {t: schema for t in TOPIC_VALUES}, ["event_id"])

    q = record_stream(
        stream_events(spark, EVENTS_PATH),
        topic_col="event_type",
        store_path=store,
        key_cols=["event_id"],
        checkpoint_path=str(tmp_path / "ck"),
    )
    q.awaitTermination(180)
    assert not q.isActive

    batch = load_table(spark, SF_SMALL, "events")
    total = 0
    for topic in TOPIC_VALUES:
        got = playback(spark, store, topic)
        rows = got.collect()
        expect = (
            batch.filter(F.col("event_type") == topic)
            .drop("event_type")
            .orderBy("ts_ns")
            .collect()
        )
        assert [r.event_id for r in rows] == [r.event_id for r in expect]
        total += len(rows)
    assert total == 1000  # every message landed in exactly one topic


def test_record_stream_jdbc_exactly_once(spark, tmp_path):
    """The north-star pipeline end-to-end (BASELINE 'Structured Streaming
    + JDBC sink'): multiplexed stream → declare → demux/normalize →
    idempotent JDBC ingest into embedded Derby — then the WHOLE stream
    redelivered from a fresh checkpoint lands zero new rows."""
    from ros_sql_spark.sources.jdbc import DERBY_DRIVER, derby_url, read_jdbc
    from ros_sql_spark.streaming.record import record_stream_jdbc

    store = str(tmp_path / "store")
    db = derby_url(str(tmp_path / "db"))
    schema = _declared_schema(spark)
    declare_topics(store, {t: schema for t in TOPIC_VALUES}, ["event_id"])

    def run(ck):
        q = record_stream_jdbc(
            stream_events(spark, EVENTS_PATH),
            topic_col="event_type",
            store_path=store,
            checkpoint_path=str(tmp_path / ck),
            url=db,
            driver=DERBY_DRIVER,
        )
        q.awaitTermination(180)
        assert not q.isActive

    run("ck1")
    batch = load_table(spark, SF_SMALL, "events")
    counts1 = {}
    total = 0
    for topic in TOPIC_VALUES:
        got = read_jdbc(spark, db, f"rs_{topic}", driver=DERBY_DRIVER)
        n = got.count()
        counts1[topic] = n
        total += n
        expect = batch.filter(F.col("event_type") == topic)
        assert n == expect.count()
        # value fidelity: the ns epoch column survives the database
        a = sorted((r.event_id, r.ts_ns) for r in got.collect())
        b = sorted((r.event_id, r.ts_ns) for r in expect.collect())
        assert a == b
    assert total == 1000

    run("ck2")  # full redelivery from a fresh checkpoint
    for topic in TOPIC_VALUES:
        assert (
            read_jdbc(spark, db, f"rs_{topic}", driver=DERBY_DRIVER).count()
            == counts1[topic]
        ), f"duplicate rows in {topic} after redelivery"


def test_record_stream_rejects_undeclared_topic(spark, tmp_path):
    store = str(tmp_path / "store")
    schema = _declared_schema(spark)
    declare_topics(store, {"click": schema}, ["event_id"])  # only one topic
    q = record_stream(
        stream_events(spark, EVENTS_PATH),
        topic_col="event_type",
        store_path=store,
        key_cols=["event_id"],
        checkpoint_path=str(tmp_path / "ck"),
    )
    with pytest.raises(Exception, match="undeclared"):
        q.awaitTermination(180)
        q.processAllAvailable()


def test_record_stream_dedup_on_ingest(spark, tmp_path):
    """Streaming × dedup (VERDICT r2 #7): an at-least-once upstream
    delivers every message TWICE; record_stream(dedup_keys=[event_id])
    must land exactly one row per key — the store after replay equals
    the batch exact-dedup of the raw feed (q25 semantics)."""
    import os

    # stage a doubled feed: every message appears twice across the files
    feed = str(tmp_path / "feed")
    batch = load_table(spark, SF_SMALL, "events")
    raw = spark.read.parquet(EVENTS_PATH)  # ns-schema-free physical copy
    raw.unionByName(raw).write.parquet(feed)

    store = str(tmp_path / "store")
    schema = _declared_schema(spark)
    declare_topics(store, {t: schema for t in TOPIC_VALUES}, ["event_id"])
    q = record_stream(
        stream_events(spark, feed),
        topic_col="event_type",
        store_path=store,
        key_cols=["event_id"],
        checkpoint_path=str(tmp_path / "ck"),
        dedup_keys=["event_id"],
    )
    q.awaitTermination(180)
    assert not q.isActive

    total = 0
    for topic in TOPIC_VALUES:
        got = playback(spark, store, topic).collect()
        ids = [r.event_id for r in got]
        assert len(ids) == len(set(ids)), f"{topic}: duplicate ids in store"
        expect = {
            r.event_id
            for r in batch.filter(F.col("event_type") == topic).collect()
        }
        assert set(ids) == expect
        total += len(ids)
    assert total == 1000  # doubled feed, exactly-once store


def test_record_stream_checkpoint_resume_exactly_once(spark, tmp_path):
    """Crash-resume: record one slice, STOP, land two more slices, then
    restart from the SAME checkpoint — the store must hold every
    message exactly once (offsets resume, nothing reprocesses), and a
    third run over a drained source lands nothing.  This is the
    recovery contract a recorder owes its users: the checkpoint, not
    the sink, is the source of truth for progress."""
    batch = load_table(spark, SF_SMALL, "events")
    src = str(tmp_path / "src")

    def land(i: int) -> None:
        (
            batch.filter(F.col("event_id") % 3 == i)
            .coalesce(1)
            .write.mode("append")
            .parquet(src)
        )

    def stream():
        return (
            spark.readStream.schema(batch.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

    store = str(tmp_path / "store")
    schema = _declared_schema(spark)
    declare_topics(store, {t: schema for t in TOPIC_VALUES}, ["event_id"])
    ck = str(tmp_path / "ck")

    def run() -> None:
        q = record_stream(
            stream(),
            topic_col="event_type",
            store_path=store,
            key_cols=["event_id"],
            checkpoint_path=ck,
        )
        q.awaitTermination(180)
        assert not q.isActive

    land(0)
    run()                     # processes slice 0, then "crashes" (stops)
    land(1)
    land(2)
    run()                     # resumes from the checkpoint: slices 1+2 only
    run()                     # drained source: no-op

    got_ids: list[int] = []
    for topic in TOPIC_VALUES:
        got_ids += [r.event_id for r in playback(spark, store, topic).collect()]
    assert len(got_ids) == 1000           # nothing lost
    assert len(set(got_ids)) == 1000      # nothing duplicated
    assert set(got_ids) == {r.event_id for r in batch.select("event_id").collect()}


def test_record_stream_snapshot_atomic_and_exactly_once(spark, tmp_path):
    """Recorder → snapshot tables: per-topic content equals the batch
    demux, and a batch replayed from the SAME checkpoint (a crash
    between the snapshot commits and the checkpoint's commit log)
    changes neither rows nor versions (the writer's batch watermark, no
    key anti-joins)."""
    import os

    from ros_sql_spark.sources.catalog import namify
    from ros_sql_spark.sources.snapshot import snapshot_read, snapshot_versions

    store = str(tmp_path / "store")
    ck = str(tmp_path / "ck")
    schema = _declared_schema(spark)
    declare_topics(store, {t: schema for t in TOPIC_VALUES}, ["event_id"])

    def run():
        q = record_stream(
            stream_events(spark, EVENTS_PATH),
            topic_col="event_type",
            store_path=store,
            key_cols=["event_id"],
            checkpoint_path=ck,
        )
        q.awaitTermination(180)
        assert not q.isActive
        return q

    run()
    batch = load_table(spark, SF_SMALL, "events")
    state = {}
    for topic in TOPIC_VALUES:
        t = os.path.join(store, namify(topic), namify(topic))
        got = snapshot_read(spark, t)
        expect = batch.filter(F.col("event_type") == topic).count()
        assert got.count() == expect
        state[topic] = (expect, snapshot_versions(spark, t)[-1])

    # crash before the commit log: drop the newest entry, and the
    # restart reruns that batch under the same id and query id
    commits = os.path.join(ck, "commits")
    last = max((f for f in os.listdir(commits) if f.isdigit()), key=int)
    for name in (last, f".{last}.crc"):
        if os.path.exists(os.path.join(commits, name)):
            os.remove(os.path.join(commits, name))
    q = run()
    assert int(last) in [p.batchId for p in q.recentProgress]
    for topic in TOPIC_VALUES:
        t = os.path.join(store, namify(topic), namify(topic))
        n, v = state[topic]
        assert snapshot_read(spark, t).count() == n
        assert snapshot_versions(spark, t)[-1] == v


def test_playback_reads_snapshot_store(spark, tmp_path):
    """playback() reads the recorder's snapshot tables: record_stream →
    ordered replay matches the batch demux."""
    store = str(tmp_path / "store")
    schema = _declared_schema(spark)
    declare_topics(store, {t: schema for t in TOPIC_VALUES}, ["event_id"])
    q = record_stream(
        stream_events(spark, EVENTS_PATH),
        topic_col="event_type",
        store_path=store,
        key_cols=["event_id"],
        checkpoint_path=str(tmp_path / "ck"),
    )
    q.awaitTermination(180)
    assert not q.isActive

    batch = load_table(spark, SF_SMALL, "events")
    topic = "purchase"
    rows = playback(spark, store, topic).collect()
    expect = (
        batch.filter(F.col("event_type") == topic)
        .drop("event_type")
        .orderBy("ts_ns")
        .collect()
    )
    assert [r.event_id for r in rows] == [r.event_id for r in expect]


@pytest.mark.slow  # >=10s in the r11 duration profile
def test_snapshot_store_time_range_prunes_files(spark, tmp_path):
    """A [t0, t1) playback over a snapshot store must (a) return exactly
    the filter-after-full-replay rows and (b) OPEN fewer parquet files
    than a full replay — the manifest ts stats recorded per micro-batch
    commit are doing chunk exclusion."""
    store = str(tmp_path / "store")
    stream_schema = stream_events(spark, EVENTS_PATH).schema
    schema = _declared_schema(spark)
    declare_topics(store, {t: schema for t in TOPIC_VALUES}, ["event_id"])
    # 4 time-ordered feed files -> 4 micro-batches -> 4 time-clustered
    # commits per topic table (each commit's file covers ~1/4 of the
    # ts range: the shape streaming ingest produces naturally)
    ev = load_table(spark, SF_SMALL, "events").select(
        *[f.name for f in stream_schema.fields]
    )
    n = ev.count()
    ordered = ev.orderBy("ts_ns").collect()
    feed = str(tmp_path / "feed")
    for i in range(4):
        chunk = ordered[i * n // 4 : (i + 1) * n // 4]
        spark.createDataFrame(chunk, stream_schema).coalesce(1).write.mode(
            "append"
        ).parquet(feed)
    src = (
        spark.readStream.schema(stream_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    q = record_stream(
        src,
        topic_col="event_type",
        store_path=store,
        key_cols=["event_id"],
        checkpoint_path=str(tmp_path / "ck"),
    )
    q.awaitTermination(180)
    assert not q.isActive

    topic = "view"
    full = playback(spark, store, topic)
    ts = sorted(r.ts_ns for r in full.select("ts_ns").collect())
    # streaming appended multiple time-clustered files?  stream_events
    # micro-batches split the feed; require >1 file for the claim
    n_full_files = len(full.inputFiles())
    assert n_full_files > 1
    t0, t1 = ts[len(ts) // 2], ts[-1] + 1  # second half of the range
    ranged = playback(spark, store, topic, t0_ns=t0, t1_ns=t1)
    got = [r.event_id for r in ranged.collect()]
    expect = [
        r.event_id
        for r in full.filter(
            (F.col("ts_ns") >= t0) & (F.col("ts_ns") < t1)
        ).orderBy("ts_ns", "event_id").collect()
    ]
    assert got == expect
    assert len(ranged.inputFiles()) < n_full_files


@pytest.mark.slow  # >=10s in the r11 duration profile
def test_expire_retention_root_and_children(spark, tmp_path):
    """api.expire: messages older than the cutoff leave the snapshot
    store — files wholly inside the expired range drop METADATA-ONLY
    (no rewrite), each message's arrays leave with it, playback returns
    only whole survivors, and a re-run of the same expire is a no-op
    (crash-retry contract)."""
    import os as _os

    from ros_sql_spark.api import expire
    from ros_sql_spark.sources.catalog import namify
    from ros_sql_spark.sources.snapshot import (
        _read_manifest,
        snapshot_read,
        snapshot_versions,
    )

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts_ns", T.LongType()),
            T.StructField("readings", T.ArrayType(T.LongType())),
        ]
    )
    src = str(tmp_path / "src")
    # four slices with disjoint ts and id windows; maxFilesPerTrigger=1
    # → one snapshot commit per slice, each with tight per-file stats
    for i in range(4):
        data = [
            (i * 1000 + j, (i * 100 + j) * 1_000_000_000, [i, j])
            for j in range(25)
        ]
        spark.createDataFrame(data, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    store = str(tmp_path / "store")
    declare_topics(store, {"sensor": schema}, ["event_id"])
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withColumn("topic", F.lit("sensor"))
    )
    q = record_stream(
        stream,
        topic_col="topic",
        store_path=store,
        key_cols=["event_id"],
        checkpoint_path=str(tmp_path / "ck"),
    )
    q.awaitTermination(180)
    assert not q.isActive

    root = _os.path.join(store, namify("sensor"), namify("sensor"))
    pre_root = _read_manifest(spark, root, snapshot_versions(spark, root)[-1])

    # cutoff after slice 1: slices 0-1 (ids 0-24, 1000-1024) expire
    cutoff = 200 * 1_000_000_000
    versions = expire(spark, store, "sensor", cutoff)

    got = snapshot_read(spark, root)
    assert got.count() == 50
    assert got.agg(F.min("ts_ns")).collect()[0][0] >= cutoff
    # metadata-only: every surviving file existed before — the expired
    # slices were dropped from the manifest without a rewrite
    m_root = _read_manifest(spark, root, versions[namify("sensor")])
    assert set(m_root["files"]) <= set(pre_root["files"])

    # playback returns only survivors, arrays intact
    rows = playback(spark, store, "sensor").collect()
    assert [r.event_id for r in rows] == sorted(
        [2000 + j for j in range(25)] + [3000 + j for j in range(25)]
    )
    assert all(len(r.readings) == 2 for r in rows)

    # idempotent retry: same cutoff again commits nothing new
    v_root = snapshot_versions(spark, root)[-1]
    expire(spark, store, "sensor", cutoff)
    assert snapshot_versions(spark, root)[-1] == v_root


def test_record_stream_redelivery_replays_whole_messages(spark, tmp_path):
    """record_stream is at-least-once: delivering one file twice (fresh
    checkpoint, same store) must replay two whole copies of every
    message — never a message that was not recorded, such as one whose
    arrays merged with its duplicate's."""
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("ts_ns", T.LongType()),
            T.StructField("ranges", T.ArrayType(T.DoubleType())),
            T.StructField("topic", T.StringType()),
        ]
    )
    msgs = [
        (1, 10, [1.0, 2.0], "scan"),
        (2, 20, [], "scan"),
        (3, 30, None, "scan"),
        (4, 40, [3.0], "scan"),
    ]
    src = str(tmp_path / "src")
    spark.createDataFrame(msgs, schema).coalesce(1).write.parquet(src)
    store = str(tmp_path / "store")
    declare_topics(store, {"scan": T.StructType(schema.fields[:3])}, ["id"])
    for ck in ("ck1", "ck2"):
        q = record_stream(
            spark.readStream.schema(schema).parquet(src),
            topic_col="topic",
            store_path=store,
            key_cols=["id"],
            checkpoint_path=str(tmp_path / ck),
        )
        q.awaitTermination(180)
        assert not q.isActive

    recorded = [(i, ts, r) for i, ts, r, _ in msgs]
    got = [(r.id, r.ts_ns, r.ranges) for r in playback(spark, store, "scan").collect()]
    assert all(m in recorded for m in got), got
    assert sorted(got, key=repr) == sorted(recorded * 2, key=repr)


def test_record_stream_snapshot_fidelity_edge_cases(spark, tmp_path):
    """record_stream → playback returns every message field for field:
    NULL vs empty arrays, a NULL struct vs a struct of NULLs, an array of
    structs holding an array, ns stamps a few ns apart and a binary
    blob, in ts order."""
    fields = [
        T.StructField("id", T.LongType()),
        T.StructField("ts_ns", T.LongType()),
        T.StructField("ranges", T.ArrayType(T.DoubleType())),
        T.StructField(
            "pose",
            T.StructType(
                [T.StructField("x", T.DoubleType()), T.StructField("y", T.DoubleType())]
            ),
        ),
        T.StructField(
            "points",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("name", T.StringType()),
                        T.StructField("cov", T.ArrayType(T.IntegerType())),
                    ]
                )
            ),
        ),
        T.StructField("blob", T.BinaryType()),
    ]
    base = 1_700_000_000_123_456_000
    msgs = [
        (1, base + 7, None, None, None, None),
        (2, base + 1, [], (None, None), [], bytearray(b"")),
        (3, base + 999, [0.5, -1.0], (1.0, None), [("a", [1, 2]), ("b", None), ("c", [])],
         bytearray(b"\x00\xff\x10")),
        (4, base + 2, [2.0], (None, 3.0), [(None, [3])], bytearray(b"\x01")),
    ]
    schema = T.StructType(fields)
    stream_schema = T.StructType(fields + [T.StructField("topic", T.StringType())])
    src = str(tmp_path / "src")
    spark.createDataFrame([m + ("odom",) for m in msgs], stream_schema).coalesce(
        1
    ).write.parquet(src)
    store = str(tmp_path / "store")
    declare_topics(store, {"odom": schema}, ["id"])
    q = record_stream(
        spark.readStream.schema(stream_schema).parquet(src),
        topic_col="topic",
        store_path=store,
        key_cols=["id"],
        checkpoint_path=str(tmp_path / "ck"),
    )
    q.awaitTermination(180)
    assert not q.isActive

    rows = playback(spark, store, "odom").collect()
    expect = spark.createDataFrame(msgs, schema).orderBy("ts_ns").collect()
    assert [r.ts_ns for r in rows] == [base + 1, base + 2, base + 7, base + 999]
    assert [r.asDict(recursive=True) for r in rows] == [
        r.asDict(recursive=True) for r in expect
    ]


def _scan_session(spark, tmp_path, name, ids):
    """A one-file source dir of ``scan`` messages with these ids."""
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("ts_ns", T.LongType()),
            T.StructField("topic", T.StringType()),
        ]
    )
    src = str(tmp_path / name)
    spark.createDataFrame(
        [(i, 10 * i, "scan") for i in ids], schema
    ).coalesce(1).write.parquet(src)
    return spark.readStream.schema(schema).parquet(src)


def test_record_stream_snapshot_second_session_lands(spark, tmp_path):
    """Two recording sessions, each with its own checkpoint, into one
    snapshot store must replay all four messages: a fresh checkpoint
    restarts batch ids at 0 but is a new writer, so its batches are not
    skipped as a replay of the first session's."""
    store = str(tmp_path / "store")
    declare_topics(
        store,
        {"scan": T.StructType([T.StructField("id", T.LongType()),
                               T.StructField("ts_ns", T.LongType())])},
        ["id"],
    )
    for session, ids in (("a", [1, 2]), ("b", [3, 4])):
        q = record_stream(
            _scan_session(spark, tmp_path, f"src_{session}", ids),
            topic_col="topic",
            store_path=store,
            key_cols=["id"],
            checkpoint_path=str(tmp_path / f"ck_{session}"),
        )
        q.awaitTermination(180)
        assert not q.isActive
    got = [r.id for r in playback(spark, store, "scan").collect()]
    assert got == [1, 2, 3, 4]


def test_record_stream_rejects_undeclared_key_cols(spark, tmp_path):
    """record_stream's ``key_cols`` must be the declared keys: a mismatch
    raises before any query starts, and the declared keys record as
    before."""
    store = str(tmp_path / "store")
    declare_topics(
        store,
        {"scan": T.StructType([T.StructField("id", T.LongType()),
                               T.StructField("ts_ns", T.LongType())])},
        ["id"],
    )
    active = len(spark.streams.active)
    with pytest.raises(ValueError, match="differ from the declared keys"):
        record_stream(
            _scan_session(spark, tmp_path, "src_bad", [1]),
            topic_col="topic",
            store_path=store,
            key_cols=["ts_ns"],
            checkpoint_path=str(tmp_path / "ck_bad"),
        )
    assert len(spark.streams.active) == active  # no query started
    q = record_stream(
        _scan_session(spark, tmp_path, "src", [2, 1]),
        topic_col="topic",
        store_path=store,
        key_cols=["id"],
        checkpoint_path=str(tmp_path / "ck"),
    )
    q.awaitTermination(180)
    assert not q.isActive
    assert [r.id for r in playback(spark, store, "scan").collect()] == [1, 2]


def test_commit_concurrently_waits_for_every_commit(spark):
    """The recorders' batch commit: thunks run concurrently under the
    caller's job group, and the first failure surfaces only after every
    other commit of the batch has finished."""
    import threading
    import time

    from ros_sql_spark.streaming.record import _commit_concurrently

    sc = spark.sparkContext
    lock = threading.Lock()
    started, finished, groups = [], [], []

    def commit(i: int) -> None:
        with lock:
            started.append(i)
            groups.append(sc.getLocalProperty("spark.jobGroup.id"))
        if i == 0:
            raise RuntimeError("commit 0 failed")
        time.sleep(0.5)
        with lock:
            finished.append(i)

    n = min(4, sc.defaultParallelism)
    sc.setJobGroup("rosql-commit-test", "concurrent commit")
    try:
        with pytest.raises(RuntimeError, match="commit 0 failed"):
            _commit_concurrently(spark, [lambda i=i: commit(i) for i in range(n)])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sorted(started) == list(range(n))
    assert sorted(finished) == list(range(1, n))
    assert groups == ["rosql-commit-test"] * n


def test_recorder_commit_failure_fails_query(spark, tmp_path, monkeypatch):
    """A recorder whose commit for ONE table raises ends with the query
    failed, and no other commit of that batch is still running when the
    batch body returns (the batch stays the unit of commit)."""
    import threading
    import time

    import ros_sql_spark.streaming.record as record
    from ros_sql_spark.sources.jdbc import derby_url
    from ros_sql_spark.streaming.record import record_stream_jdbc

    lock = threading.Lock()
    running: set[str] = set()
    done: list[str] = []
    at_return: list[set[str]] = []

    def fake_commit(tbl, table, *args):
        with lock:
            running.add(table)
        try:
            if table == "rs_click":
                raise RuntimeError("injected commit failure")
            time.sleep(0.5)
            done.append(table)
        finally:
            with lock:
                running.discard(table)

    real = record._commit_concurrently

    def watched(spark_, commits):
        try:
            real(spark_, commits)
        finally:
            with lock:
                at_return.append(set(running))

    monkeypatch.setattr(record, "_commit_table", fake_commit)
    monkeypatch.setattr(record, "_commit_concurrently", watched)

    store = str(tmp_path / "store")
    schema = _declared_schema(spark)
    declare_topics(store, {t: schema for t in TOPIC_VALUES}, ["event_id"])
    q = record_stream_jdbc(
        stream_events(spark, EVENTS_PATH),
        topic_col="event_type",
        store_path=store,
        checkpoint_path=str(tmp_path / "ck"),
        url=derby_url(str(tmp_path / "db")),
    )
    with pytest.raises(Exception, match="injected commit failure"):
        q.awaitTermination(180)
    assert q.exception() is not None
    assert at_return == [set()]
    assert sorted(done) == sorted(f"rs_{t}" for t in TOPIC_VALUES if t != "click")


def test_playback_launches_no_job_before_action(spark, tmp_path):
    """Building a replay reads the topic's table with its declared
    schema: no footer-inference job runs until the caller's action, and
    the action is one scan plus one sort."""
    from ros_sql_spark.api import record

    msgs = spark.createDataFrame(
        [
            (1, 10, (1.5, [1, 2]), [("a", 1)]),
            (2, 20, None, []),
            (3, 30, (2.5, None), None),
        ],
        "id long, ts_ns long, pose struct<x: double, cov: array<int>>, "
        "tags array<struct<k: string, v: int>>",
    )
    store = str(tmp_path / "store")
    record(spark, {"odom": msgs}, store, key_cols=["id"])

    sc = spark.sparkContext
    group = "rosql-playback-build"
    sc.setJobGroup(group, "playback build")
    try:
        df = playback(spark, store, "odom")
        assert sc.statusTracker().getJobIdsForGroup(group) == []
        rows = df.collect()
        assert 0 < len(sc.statusTracker().getJobIdsForGroup(group)) <= 3
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert [r.asDict(recursive=True) for r in rows] == [
        r.asDict(recursive=True) for r in msgs.orderBy("ts_ns").collect()
    ]
