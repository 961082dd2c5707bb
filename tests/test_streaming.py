"""Streaming twins (SURVEY.md §5.2 layer 3): batch↔streaming equivalence
for session/tumbling windows, q16 cross-check, stream-stream joins, and
the sketch sinks' idempotency under batch replay."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

# streaming equivalence/crash-recovery suite: slow tier by module (r11 duration profile)
pytestmark = pytest.mark.slow

from ros_sql_spark.plans.queries import q16_sessionize
from ros_sql_spark.sources.io import load_table
from ros_sql_spark.streaming.replay import (
    session_counts,
    stream_events,
    tumbling_counts,
)
from tests.conftest import SF_SMALL

EVENTS_PATH = f"{SF_SMALL}/events.parquet"


def _drain(q):
    q.awaitTermination(120)
    assert not q.isActive


def test_streaming_sessions_equal_batch(spark, tmp_path):
    batch = session_counts(load_table(spark, SF_SMALL, "events"))
    bres = sorted(map(repr, (tuple(r) for r in batch.collect())))

    stream = session_counts(stream_events(spark, EVENTS_PATH))
    out = str(tmp_path / "sessions_out")
    q = (
        stream.writeStream.format("memory")
        .queryName("sess")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt_sess"))
        .trigger(availableNow=True)
        .start()
    )
    _drain(q)
    sres = sorted(
        map(repr, (tuple(r) for r in spark.sql("SELECT * FROM sess").collect()))
    )
    assert sres == bres


def test_stream_events_ts_parity_with_batch(spark, tmp_path):
    """The streaming twin must emit the SAME ts/ts_ns values as the batch
    loader whatever unit the file stores (advisor r3: a hardcoded ns
    projection made the stream emit 1970-era ts on timestamp[us] data)."""
    batch = load_table(spark, SF_SMALL, "events").select("ts", "ts_ns")
    b = batch.agg(
        F.min("ts").alias("lo"), F.max("ts").alias("hi"),
        F.min("ts_ns").alias("lo_ns"), F.max("ts_ns").alias("hi_ns"),
    ).collect()[0]

    q = (
        stream_events(spark, EVENTS_PATH)
        .select("ts", "ts_ns")
        .writeStream.format("memory")
        .queryName("ts_parity")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_tsp"))
        .trigger(availableNow=True)
        .start()
    )
    _drain(q)
    s = spark.sql(
        "SELECT min(ts) lo, max(ts) hi, min(ts_ns) lo_ns, max(ts_ns) hi_ns "
        "FROM ts_parity"
    ).collect()[0]
    assert (s.lo, s.hi, s.lo_ns, s.hi_ns) == (b.lo, b.hi, b.lo_ns, b.hi_ns)


def test_ns_range_refused_on_failed_unit_probe(spark):
    """ns_range against a path whose footer can't be probed must raise,
    not silently mis-scale the pushdown predicate (advisor r3)."""
    from ros_sql_spark.sources import io as io_mod

    missing = "/root/nonexistent_dir_for_probe/events.parquet"
    with pytest.warns(UserWarning, match="ts-unit probe failed"):
        with pytest.raises(ValueError, match="refusing to apply ns_range"):
            io_mod._load_events(spark, missing, ns_range=(0, 10))


def test_session_counts_match_q16(spark):
    """Distinct session_window sessions per user == q16's lag-based
    n_sessions (two formulations of the same operator)."""
    per_user = (
        session_counts(load_table(spark, SF_SMALL, "events"))
        .groupBy("user_id")
        .agg(F.count("*").alias("n_sessions"))
    )
    a = {(r.user_id, r.n_sessions) for r in per_user.collect()}
    b = {
        (r.user_id, r.n_sessions)
        for r in q16_sessionize(spark, SF_SMALL).collect()
    }
    assert a == b


def test_streaming_tumbling_equal_batch(spark, tmp_path):
    batch = tumbling_counts(load_table(spark, SF_SMALL, "events"))
    bres = sorted(map(repr, (tuple(r) for r in batch.collect())))
    q = (
        tumbling_counts(stream_events(spark, EVENTS_PATH))
        .writeStream.format("memory")
        .queryName("tumb")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt_tumb"))
        .trigger(availableNow=True)
        .start()
    )
    _drain(q)
    sres = sorted(
        map(repr, (tuple(r) for r in spark.sql("SELECT * FROM tumb").collect()))
    )
    assert sres == bres


def test_stream_stream_join_matches_batch_twin(spark, tmp_path):
    """Watermarked stream-stream equi-join (clicks ⋈ purchases per user
    within ±30 min) equals the same join on the batch frames — inner
    stream-stream joins are exact; the watermark+range condition only
    bounds state."""
    import pyspark.sql.functions as F

    from ros_sql_spark.sources.io import load_table
    from ros_sql_spark.streaming.joins import stream_stream_join
    from ros_sql_spark.streaming.replay import stream_events
    from tests.conftest import SF_SMALL

    ev = stream_events(spark, f"{SF_SMALL}/events.parquet")
    clicks = ev.filter(F.col("event_type") == "click")
    purchases = ev.filter(F.col("event_type") == "purchase")
    joined = stream_stream_join(
        clicks, purchases, on=["user_id"], max_lag="30 minutes"
    )
    q = (
        joined.select("event_id", "event_id_r")
        .writeStream.format("memory")
        .queryName("ssj")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r.event_id, r.event_id_r)
        for r in spark.sql("SELECT * FROM ssj").collect()
    }

    bev = load_table(spark, SF_SMALL, "events")
    bc = bev.filter(F.col("event_type") == "click")
    bp = bev.filter(F.col("event_type") == "purchase")
    # withWatermark is a documented no-op on batch frames, so the SAME
    # operator body is its own batch twin.
    want = {
        (r.event_id, r.event_id_r)
        for r in stream_stream_join(
            bc, bp, on=["user_id"], max_lag="30 minutes"
        )
        .select("event_id", "event_id_r")
        .collect()
    }
    assert got == want and len(got) > 0


def test_stream_stream_left_outer_emits_after_watermark(spark, tmp_path):
    """Left-outer stream-stream join: an unmatched left row must emit
    null-padded once the watermark closes its match window.  Two files
    (maxFilesPerTrigger=1 → two micro-batches): batch A has one click
    with a matching purchase and one without; batch B is hours later,
    advancing the watermark past A's windows so A's unmatched click
    flushes from state."""
    import pyspark.sql.functions as F
    from pyspark.sql import Row

    from ros_sql_spark.streaming.joins import stream_stream_join
    from ros_sql_spark.streaming.replay import stream_events

    feed = tmp_path / "feed"
    feed.mkdir()
    base_ns = 1_704_067_200_000_000_000  # 2024-01-01T00:00:00Z in ns

    def ev(eid, ns, user, etype):
        return Row(event_id=eid, ts=ns, user_id=user, event_type=etype,
                   value=1.0, props="{}")

    a = [
        ev(1, base_ns, 10, "click"),               # matched by eid 3
        ev(2, base_ns, 20, "click"),               # never matched
        ev(3, base_ns + 60_000_000_000, 10, "purchase"),  # +1 min
    ]
    # later batches carry BOTH event types: the global watermark is the
    # MIN across the two sides' watermark operators (default
    # multipleWatermarkPolicy), so a side that never sees new events
    # pins the watermark and nothing ever flushes.
    b = [
        ev(4, base_ns + 7_200_000_000_000, 99, "click"),     # +2 h
        ev(5, base_ns + 7_200_000_000_000, 97, "purchase"),
    ]
    c = [
        ev(6, base_ns + 14_400_000_000_000, 98, "click"),    # +4 h
        ev(7, base_ns + 14_400_000_000_000, 96, "purchase"),
    ]
    schema = "event_id BIGINT, ts BIGINT, user_id BIGINT, event_type STRING, value DOUBLE, props STRING"
    # three FLAT files (the file source does not recurse into non-
    # partition subdirs) with distinct mtimes → three micro-batches in
    # order.  State eviction runs one batch behind the event-time high
    # mark, so batch C is what flushes A's unmatched click.
    import glob as _glob
    import shutil as _shutil
    import time as _time

    stage = tmp_path / "stage"
    for name, rows in (("fa", a), ("fb", b), ("fc", c)):
        d = str(stage / name)
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(d)
        part = _glob.glob(f"{d}/part-*.parquet")[0]
        _shutil.copy(part, str(feed / f"{name}.parquet"))
        _time.sleep(1.1)

    ev_stream = stream_events(spark, str(feed))
    clicks = ev_stream.filter(F.col("event_type") == "click")
    purchases = ev_stream.filter(F.col("event_type") == "purchase")
    joined = stream_stream_join(
        clicks, purchases, on=["user_id"],
        watermark="10 seconds", max_lag="30 minutes", how="left_outer",
    )
    q = (
        joined.select("event_id", "event_id_r")
        .writeStream.format("memory")
        .queryName("ssj_outer")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {(r.event_id, r.event_id_r) for r in spark.sql("SELECT * FROM ssj_outer").collect()}
    assert (1, 3) in got            # the match
    assert (2, None) in got         # unmatched left, flushed by batch B's watermark
    assert (1, None) not in got     # matched rows are not also null-padded


def test_sketch_batch_occ_guard(spark, tmp_path, monkeypatch):
    """Two writers accidentally pointed at one sketch table must fail
    loudly with SnapshotConflict, never silently lose a merge: the
    read-merge-overwrite commit pins the version it read."""
    import pytest

    import ros_sql_spark.sources.snapshot as snap
    import ros_sql_spark.streaming.sketch as ss
    from ros_sql_spark.sources.snapshot import SnapshotConflict

    df = spark.createDataFrame(
        [("a", i) for i in range(50)], "s string, v int"
    )
    kmv_t = str(tmp_path / "kmv")
    cm_t = str(tmp_path / "cm")
    assert ss.kmv_sketch_batch(df, 0, kmv_t, "s", "v", 16)
    assert ss.cm_build_batch(df, 0, cm_t, "v", 2, 16)
    # simulate a stale read: the other writer committed version 1 after
    # this writer looked up the head (here: force the empty-table
    # branch of the fold sink's version lookup)
    monkeypatch.setattr(snap, "_head", lambda sp, t: (0, {}))
    with pytest.raises(SnapshotConflict):
        ss.kmv_sketch_batch(df, 1, kmv_t, "s", "v", 16)
    with pytest.raises(SnapshotConflict):
        ss.cm_build_batch(df, 1, cm_t, "v", 2, 16)


def test_kmv_sketch_stream_batch_equivalence(spark, tmp_path):
    """Continuous KMV: after draining the stream (2-file triggers) the
    stored sketch equals the one-shot batch sketch row-for-row (bottom-k
    union is associative/commutative over any micro-batch partition),
    estimates agree, and a FULL redelivery from a fresh checkpoint
    leaves the table unchanged (batch:<id> watermark on the overwrite
    path)."""
    import pyspark.sql.functions as F

    from ros_sql_spark.operators.sketch import kmv_estimate, kmv_sketch
    from ros_sql_spark.sources.io import load_table
    from ros_sql_spark.sources.snapshot import snapshot_versions
    from ros_sql_spark.streaming.sketch import (
        kmv_sketch_read,
        kmv_sketch_stream,
    )
    from tests.conftest import SF_SMALL

    ev = load_table(spark, SF_SMALL, "events").select("event_type", "user_id")
    src = str(tmp_path / "src")
    ev.repartition(4).write.parquet(src)
    table = str(tmp_path / "sketch")

    def run(ck):
        q = kmv_sketch_stream(
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 2)
            .parquet(src),
            table,
            checkpoint_path=str(tmp_path / ck),
            set_col="event_type",
            key_col="user_id",
            k=16,
        )
        q.awaitTermination(180)
        assert not q.isActive

    run("ck1")
    got = sorted(
        map(tuple, kmv_sketch_read(spark, table).collect())
    )
    want = sorted(
        map(tuple, kmv_sketch(ev, "event_type", "user_id", k=16).collect())
    )
    assert got == want and len(got) > 0

    est_s = {
        r.event_type: r.est
        for r in kmv_estimate(
            kmv_sketch_read(spark, table), "event_type", k=16
        ).collect()
    }
    est_b = {
        r.event_type: r.est
        for r in kmv_estimate(
            kmv_sketch(ev, "event_type", "user_id", k=16), "event_type", k=16
        ).collect()
    }
    assert est_s == est_b

    v = snapshot_versions(spark, table)[-1]
    run("ck2")  # full redelivery: fresh checkpoint, same table
    assert snapshot_versions(spark, table)[-1] == v
    assert sorted(map(tuple, kmv_sketch_read(spark, table).collect())) == want


def test_quantile_sketch_stream_batch_equivalence(spark, tmp_path):
    """Continuous quantile sketch: drained-stream sample equals the
    one-shot batch sketch row-for-row (bottom-k-by-hash union is
    associative over any micro-batch partition); estimates agree; a
    full redelivery from a fresh checkpoint neither re-weights rows
    nor bumps the version."""
    from ros_sql_spark.operators.sketch import (
        quantile_estimate,
        quantile_sketch,
    )
    from ros_sql_spark.sources.io import load_table
    from ros_sql_spark.sources.snapshot import (
        snapshot_read,
        snapshot_versions,
    )
    from ros_sql_spark.streaming.sketch import quantile_sketch_stream
    from tests.conftest import SF_SMALL

    ev = load_table(spark, SF_SMALL, "events").select(
        "event_id", "event_type", "value"
    )
    src = str(tmp_path / "src")
    ev.repartition(4).write.parquet(src)
    table = str(tmp_path / "qsketch")

    def run(ck):
        q = quantile_sketch_stream(
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 2)
            .parquet(src),
            table,
            checkpoint_path=str(tmp_path / ck),
            group_col="event_type",
            value_col="value",
            key_col="event_id",
            k=32,
        )
        q.awaitTermination(180)
        assert not q.isActive

    run("ck1")
    want = sorted(
        map(
            tuple,
            quantile_sketch(ev, "event_type", "value", "event_id", k=32)
            .select("event_type", "v", "h")
            .collect(),
        )
    )
    got = sorted(
        map(
            tuple,
            snapshot_read(spark, table)
            .select("event_type", "v", "h")
            .collect(),
        )
    )
    assert got == want and len(got) > 0

    es = sorted(
        map(
            tuple,
            quantile_estimate(
                snapshot_read(spark, table), "event_type", {"p50": 0.5}
            ).collect(),
        )
    )
    eb = sorted(
        map(
            tuple,
            quantile_estimate(
                quantile_sketch(ev, "event_type", "value", "event_id", k=32),
                "event_type",
                {"p50": 0.5},
            ).collect(),
        )
    )
    assert es == eb

    v = snapshot_versions(spark, table)[-1]
    run("ck2")  # full redelivery: fresh checkpoint, same table
    assert snapshot_versions(spark, table)[-1] == v
    assert (
        sorted(
            map(
                tuple,
                snapshot_read(spark, table)
                .select("event_type", "v", "h")
                .collect(),
            )
        )
        == want
    )


def test_cm_build_stream_batch_equivalence(spark, tmp_path):
    """Continuous Count-Min: drained-stream counters equal the one-shot
    batch build EXACTLY (cell-wise-sum linearity over any micro-batch
    partition); estimates agree; a full redelivery from a fresh
    checkpoint neither double-counts nor bumps the version."""
    import pyspark.sql.functions as F

    from ros_sql_spark.operators.sketch import cm_build, cm_estimate
    from ros_sql_spark.sources.io import load_table
    from ros_sql_spark.sources.snapshot import (
        snapshot_read,
        snapshot_versions,
    )
    from ros_sql_spark.streaming.sketch import cm_build_stream
    from tests.conftest import SF_SMALL

    ev = load_table(spark, SF_SMALL, "events").select("user_id")
    src = str(tmp_path / "src")
    ev.repartition(4).write.parquet(src)
    table = str(tmp_path / "cm")

    def run(ck):
        q = cm_build_stream(
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 2)
            .parquet(src),
            table,
            checkpoint_path=str(tmp_path / ck),
            key_col="user_id",
            depth=4,
            width=32,
        )
        q.awaitTermination(180)
        assert not q.isActive

    run("ck1")
    got = sorted(map(tuple, snapshot_read(spark, table).collect()))
    want = sorted(
        map(tuple, cm_build(ev, "user_id", depth=4, width=32).collect())
    )
    assert got == want and 0 < len(got) <= 4 * 32

    users = ev.select("user_id").distinct()
    est_s = {
        r.user_id: r.est
        for r in cm_estimate(
            users, snapshot_read(spark, table), "user_id", 4, 32
        ).collect()
    }
    true = {r.user_id: r.n for r in ev.groupBy("user_id").agg(F.count("*").alias("n")).collect()}
    assert all(est_s[u] >= n for u, n in true.items())  # CM never underestimates

    v = snapshot_versions(spark, table)[-1]
    run("ck2")  # full redelivery: must not double-count
    assert snapshot_versions(spark, table)[-1] == v
    assert sorted(map(tuple, snapshot_read(spark, table).collect())) == want


def test_setsim_ingest_stream_invariants_and_redelivery(spark, tmp_path):
    """Continuous exact-dedup ingest: after draining the stream the
    corpus contains NO pair at the threshold (setsim_join over the kept
    docs is empty), kept ∪ dropped partitions the input, every dropped
    doc really does near-dup some kept doc, and a FULL redelivery from
    a fresh checkpoint leaves every table version untouched."""
    import pyspark.sql.functions as F

    from ros_sql_spark.operators.dedup import setsim_join
    from ros_sql_spark.sources.io import load_table
    from ros_sql_spark.sources.snapshot import snapshot_versions
    from ros_sql_spark.streaming.dedup import (
        setsim_corpus_read,
        setsim_ingest_stream,
    )
    from tests.conftest import SF_SMALL

    docs = load_table(spark, SF_SMALL, "documents").select("doc_id", "text")
    src = str(tmp_path / "src")
    docs.repartition(5).write.parquet(src)
    store = str(tmp_path / "corpus")
    thr = 0.3

    def run(ck):
        q = setsim_ingest_stream(
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 2)
            .parquet(src),
            store,
            checkpoint_path=str(tmp_path / ck),
            threshold=thr,
        )
        q.awaitTermination(240)
        assert not q.isActive

    run("ck1")
    kept = setsim_corpus_read(spark, store)
    kept_ids = {r.doc_id for r in kept.select("doc_id").collect()}
    all_ids = {r.doc_id for r in docs.select("doc_id").collect()}
    assert kept_ids and kept_ids <= all_ids

    # invariant 1: the kept corpus is pair-free at the threshold
    assert setsim_join(kept, threshold=thr, k=5).count() == 0

    # invariant 2: every dropped doc near-dups some kept doc (exact
    # jaccard over 5-token shingle hash sets, recomputed in batch)
    from ros_sql_spark.operators.dedup import shingle_hashes

    sets = {
        r._id: set(r._ts)
        for r in shingle_hashes(docs, "doc_id", "text", 5)
        .select(F.col("doc_id").alias("_id"),
                F.array_distinct("_hs").alias("_ts"))
        .collect()
    }

    def jac(a, b):
        i = len(sets[a] & sets[b])
        return i / (len(sets[a]) + len(sets[b]) - i)

    for d in sorted(all_ids - kept_ids):
        assert any(jac(d, kk) >= thr for kk in kept_ids), d

    # invariant 3 (round-8): the labels table, maintained through the
    # REAL stream, covers every ingested doc exactly once and maps
    # every dropped doc to a component containing a published doc
    from ros_sql_spark.streaming.dedup import setsim_labels_read

    lbl = {
        r.doc_id: r.component
        for r in setsim_labels_read(spark, store).collect()
    }
    assert set(lbl) == all_ids
    kept_comps = {lbl[k] for k in kept_ids}
    for d in all_ids - kept_ids:
        assert lbl[d] in kept_comps, d

    versions = {
        n: snapshot_versions(spark, f"{store}/{n}")[-1]
        for n in ("docs", "sets", "prefix", "freq", "labels")
    }
    run("ck2")  # full redelivery: fresh checkpoint, same store
    for n, v in versions.items():
        assert snapshot_versions(spark, f"{store}/{n}")[-1] == v, n
    assert {
        r.doc_id for r in setsim_corpus_read(spark, store).collect()
    } == kept_ids


def test_setsim_ingest_crash_recovery_time_travel(spark, tmp_path):
    """A crash BETWEEN the index commits and the docs commit must
    resume deterministically: the replayed batch recomputes against
    each table's PRE-batch state via version time travel, so a kept doc
    is never re-dropped against its own just-indexed copy."""
    import pyspark.sql.functions as F

    from ros_sql_spark.sources.io import load_table
    from ros_sql_spark.sources.snapshot import (
        _list_versions,
        snapshot_commit,
        snapshot_read,
    )
    from ros_sql_spark.streaming.dedup import setsim_ingest_batch
    from tests.conftest import SF_SMALL

    docs = load_table(spark, SF_SMALL, "documents").select("doc_id", "text")
    b0 = docs.filter(F.col("doc_id") < 60)
    b1 = docs.filter((F.col("doc_id") >= 60) & (F.col("doc_id") < 120))
    store = str(tmp_path / "corpus")
    thr = 0.3

    r0 = setsim_ingest_batch(b0, 0, store, threshold=thr)
    assert set(r0["committed"]) == {"docs", "sets", "prefix", "freq", "labels"}

    # run batch 1 fully on a SHADOW store to learn the expected result,
    # then simulate the crash on the real store: index tables committed
    # for batch 1, docs not.
    shadow = str(tmp_path / "shadow")
    setsim_ingest_batch(b0, 0, shadow, threshold=thr)
    expect = setsim_ingest_batch(b1, 1, shadow, threshold=thr)
    expect_ids = {
        r.doc_id
        for r in snapshot_read(spark, f"{shadow}/docs").collect()
    }

    # CRASH INJECTION: batch 1 commits sets/prefix/freq, then dies
    # before the docs commit.
    import ros_sql_spark.streaming.dedup as sd

    real_commit = sd.snapshot_commit

    def dying_commit(df, table, **kw):
        if table.endswith("/docs") and kw.get("tag") == "batch:1":
            raise RuntimeError("injected crash before docs commit")
        return real_commit(df, table, **kw)

    sd.snapshot_commit = dying_commit
    try:
        try:
            setsim_ingest_batch(b1, 1, store, threshold=thr)
            raise AssertionError("crash did not fire")
        except RuntimeError:
            pass
    finally:
        sd.snapshot_commit = real_commit
    # index tables now carry batch 1, docs does not — the hazardous
    # state: a naive replay would probe the batch's OWN freshly-indexed
    # sets and drop every kept doc against its own copy.
    assert _list_versions(spark, f"{store}/sets")[-1] == 2
    assert _list_versions(spark, f"{store}/docs")[-1] == 1

    # a MAINTENANCE commit lands between the crash and the replay
    # (compaction carries the batch watermark forward) — the review-r7
    # hazard: pre-batch state must be found by walking watermarks
    # backward, not by assuming versions[-2].
    from ros_sql_spark.sources.snapshot import snapshot_compact

    snapshot_compact(spark, f"{store}/sets", target_files=1)
    assert _list_versions(spark, f"{store}/sets")[-1] == 3

    # and a re-index must REFUSE while the half-committed batch is
    # pending (it would erase batch 1's index increments forever)
    from ros_sql_spark.streaming.dedup import setsim_reindex

    with pytest.raises(RuntimeError, match="crashed ingest batch"):
        setsim_reindex(spark, store, threshold=thr)

    # the Structured Streaming replay of batch 1:
    replay = setsim_ingest_batch(b1, 1, store, threshold=thr)
    assert replay["committed"] == ["docs"]  # index tables time-traveled
    assert replay["n_kept"] == expect["n_kept"]
    assert replay["n_dropped"] == expect["n_dropped"]
    got_ids = {
        r.doc_id
        for r in snapshot_read(spark, f"{store}/docs").collect()
    }
    assert got_ids == expect_ids

    # and a second replay is a full no-op
    again = setsim_ingest_batch(b1, 1, store, threshold=thr)
    assert again["committed"] == []
    assert {
        r.doc_id for r in snapshot_read(spark, f"{store}/docs").collect()
    } == expect_ids


def test_setsim_reindex_preserves_semantics(spark, tmp_path):
    """After a blue/green re-index (ranks refreshed to true corpus
    frequencies), further ingests keep the pair-free invariant and the
    redelivery watermark survives the overwrite commits."""
    import pyspark.sql.functions as F

    from ros_sql_spark.operators.dedup import setsim_join
    from ros_sql_spark.sources.io import load_table
    from ros_sql_spark.sources.snapshot import _read_manifest, _list_versions
    from ros_sql_spark.streaming.dedup import (
        setsim_corpus_read,
        setsim_ingest_batch,
        setsim_reindex,
    )
    from tests.conftest import SF_SMALL

    docs = load_table(spark, SF_SMALL, "documents").select("doc_id", "text")
    store = str(tmp_path / "corpus")
    thr = 0.3
    setsim_ingest_batch(docs.filter(F.col("doc_id") < 80), 0, store,
                        threshold=thr)
    setsim_ingest_batch(
        docs.filter((F.col("doc_id") >= 80) & (F.col("doc_id") < 160)),
        1, store, threshold=thr,
    )
    setsim_reindex(spark, store, threshold=thr)
    # watermark carried across the overwrite
    for n in ("sets", "prefix", "freq"):
        t = f"{store}/{n}"
        m = _read_manifest(spark, t, _list_versions(spark, t)[-1])
        assert m.get("last_batch") == 1, n
    # ingest continues against the rebuilt index
    setsim_ingest_batch(
        docs.filter((F.col("doc_id") >= 160) & (F.col("doc_id") < 240)),
        2, store, threshold=thr,
    )
    kept = setsim_corpus_read(spark, store)
    assert setsim_join(kept, threshold=thr, k=5).count() == 0
    assert kept.count() > 0

    # labels stay EXACT across the reindex (round-8): rank drift /
    # refresh changes candidate COST only, never the exact pair set —
    # so the labels on a store whose batch 2 probed the REBUILT index
    # must equal a shadow run that never reindexed.
    from ros_sql_spark.streaming.dedup import setsim_labels_read

    shadow = str(tmp_path / "shadow")
    setsim_ingest_batch(docs.filter(F.col("doc_id") < 80), 0, shadow,
                        threshold=thr)
    setsim_ingest_batch(
        docs.filter((F.col("doc_id") >= 80) & (F.col("doc_id") < 160)),
        1, shadow, threshold=thr,
    )
    setsim_ingest_batch(
        docs.filter((F.col("doc_id") >= 160) & (F.col("doc_id") < 240)),
        2, shadow, threshold=thr,
    )
    got = {
        (r.doc_id, r.component)
        for r in setsim_labels_read(spark, store).collect()
    }
    want = {
        (r.doc_id, r.component)
        for r in setsim_labels_read(spark, shadow).collect()
    }
    assert got == want and got


def test_setsim_labels_equal_union_find_recompute(spark, tmp_path):
    """Drained-stream cluster labels must equal a one-shot recompute
    over the union of all pairs the ingest observed — checked against
    an INDEPENDENT Python union-find, with the per-batch edge set
    derived from first principles (exact threshold pairs within
    kept-before ∪ batch touching the batch), not from the probe's
    internals.  Every ingested doc — kept and dropped — gets exactly
    one label; a dropped doc's component contains its published
    canonical."""
    import pyspark.sql.functions as F

    from ros_sql_spark.operators.dedup import setsim_join
    from ros_sql_spark.sources.io import load_table
    from ros_sql_spark.streaming.dedup import (
        setsim_corpus_read,
        setsim_ingest_batch,
        setsim_labels_read,
    )
    from tests.conftest import SF_SMALL

    docs = load_table(spark, SF_SMALL, "documents").select("doc_id", "text")
    store = str(tmp_path / "corpus")
    thr = 0.3
    bounds = [(0, 60), (60, 120), (120, 200)]

    all_ids: set[int] = set()
    edges: list[tuple[int, int]] = []
    for i, (lo, hi) in enumerate(bounds):
        b = docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        batch_ids = {r.doc_id for r in b.select("doc_id").collect()}
        # ground truth discovered pairs BEFORE mutating the store: the
        # exact threshold pairs among kept-before ∪ batch that touch
        # the batch (kept×kept pairs cannot exist by the invariant)
        if all_ids:
            union_df = setsim_corpus_read(spark, store).unionByName(b)
        else:
            union_df = b
        for r in setsim_join(union_df, threshold=thr, k=5).collect():
            if r.id_a in batch_ids or r.id_b in batch_ids:
                edges.append((r.id_a, r.id_b))
        setsim_ingest_batch(b, i, store, threshold=thr)
        all_ids |= batch_ids

    # independent union-find, min-id representative
    parent = {i: i for i in all_ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b2 in edges:
        ra, rb = find(a), find(b2)
        if ra != rb:
            parent[ra] = rb
    comp_min: dict[int, int] = {}
    for i in all_ids:
        r = find(i)
        comp_min[r] = min(comp_min.get(r, i), i)
    expected = {(i, comp_min[find(i)]) for i in all_ids}

    got = {
        (r.doc_id, r.component)
        for r in setsim_labels_read(spark, store).collect()
    }
    assert got == expected
    assert len(got) == len(all_ids)  # one label per ingested doc

    # a dropped doc's cluster contains its published canonical
    kept_ids = {
        r.doc_id
        for r in setsim_corpus_read(spark, store).select("doc_id").collect()
    }
    lbl_of = dict(got)
    for d in all_ids - kept_ids:
        cluster = {i for i in all_ids if lbl_of[i] == lbl_of[d]}
        assert cluster & kept_ids, d


def test_setsim_labels_crash_recovery_both_sides_of_merge(spark, tmp_path):
    """Crash injection on BOTH sides of the labels commit: (a) dying on
    the labels merge itself (index tables in, labels+docs out) and (b)
    dying after the merge but before the docs commit (labels in, docs
    out).  Replays must converge to the uncrashed shadow run's exact
    label map, with the already-committed labels table skipped — never
    double-merged — and a second replay a full no-op."""
    import pyspark.sql.functions as F

    from ros_sql_spark.sources.io import load_table
    from ros_sql_spark.streaming.dedup import (
        setsim_ingest_batch,
        setsim_labels_read,
    )
    from tests.conftest import SF_SMALL

    docs = load_table(spark, SF_SMALL, "documents").select("doc_id", "text")
    b0 = docs.filter(F.col("doc_id") < 60)
    b1 = docs.filter((F.col("doc_id") >= 60) & (F.col("doc_id") < 120))
    b2 = docs.filter((F.col("doc_id") >= 120) & (F.col("doc_id") < 200))
    store = str(tmp_path / "corpus")
    shadow = str(tmp_path / "shadow")
    thr = 0.3

    for s in (store, shadow):
        setsim_ingest_batch(b0, 0, s, threshold=thr)

    import ros_sql_spark.streaming.dedup as sd

    real_merge, real_commit = sd.snapshot_merge, sd.snapshot_commit

    def labels_of(s):
        return {
            (r.doc_id, r.component)
            for r in setsim_labels_read(spark, s).collect()
        }

    # (a) die ON the labels merge of batch 1
    def dying_merge(df, table, **kw):
        if table.endswith("/labels") and kw.get("tag") == "batch:1":
            raise RuntimeError("injected crash on labels merge")
        return real_merge(df, table, **kw)

    sd.snapshot_merge = dying_merge
    try:
        with pytest.raises(RuntimeError, match="labels merge"):
            setsim_ingest_batch(b1, 1, store, threshold=thr)
    finally:
        sd.snapshot_merge = real_merge
    setsim_ingest_batch(b1, 1, shadow, threshold=thr)
    replay = setsim_ingest_batch(b1, 1, store, threshold=thr)
    assert replay["committed"] == ["labels", "docs"]
    assert labels_of(store) == labels_of(shadow)

    # (b) die AFTER the labels merge of batch 2, before the docs commit
    def dying_commit(df, table, **kw):
        if table.endswith("/docs") and kw.get("tag") == "batch:2":
            raise RuntimeError("injected crash before docs commit")
        return real_commit(df, table, **kw)

    sd.snapshot_commit = dying_commit
    try:
        with pytest.raises(RuntimeError, match="docs commit"):
            setsim_ingest_batch(b2, 2, store, threshold=thr)
    finally:
        sd.snapshot_commit = real_commit
    setsim_ingest_batch(b2, 2, shadow, threshold=thr)
    replay2 = setsim_ingest_batch(b2, 2, store, threshold=thr)
    assert replay2["committed"] == ["docs"]  # labels skipped, not re-merged
    assert labels_of(store) == labels_of(shadow)

    # full redelivery is a no-op
    again = setsim_ingest_batch(b2, 2, store, threshold=thr)
    assert again["committed"] == []
    assert labels_of(store) == labels_of(shadow)


def test_setsim_labels_merge_prunes_with_key_stats(spark, tmp_path):
    """The labels keyed merge must be increment-sized in WRITES, not
    just compute: the bootstrap commit records doc_id bounds
    (stats_cols — without them every later merge rewrites every file),
    so a batch of fresh monotonic ids with no moved labels carries
    every previous labels file BY REFERENCE."""
    from ros_sql_spark.sources.snapshot import (
        _list_versions,
        _read_manifest,
    )
    from ros_sql_spark.streaming.dedup import (
        setsim_ingest_batch,
        setsim_labels_read,
    )

    def batch(lo, hi):
        rows = [
            (i, f"alpha{i} beta{i} gamma{i} delta{i} eps{i} zeta{i} "
                f"eta{i} theta{i}")
            for i in range(lo, hi)
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    store = str(tmp_path / "corpus")
    setsim_ingest_batch(batch(0, 10), 0, store, threshold=0.3)
    t = f"{store}/labels"
    m1 = _read_manifest(spark, t, _list_versions(spark, t)[-1])
    assert m1.get("stats_cols") == ["doc_id"], m1
    assert all("doc_id" in m1["stats"][f] for f in m1["files"])

    setsim_ingest_batch(batch(10, 20), 1, store, threshold=0.3)
    m2 = _read_manifest(spark, t, _list_versions(spark, t)[-1])
    # all-unique texts → no moved labels; fresh ids 10..19 sit beyond
    # the stored [0,9] bounds → batch 0's files carried by reference
    assert set(m1["files"]) <= set(m2["files"]), (m1["files"], m2["files"])
    got = {
        (r.doc_id, r.component)
        for r in setsim_labels_read(spark, store).collect()
    }
    assert got == {(i, i) for i in range(20)}


def test_setsim_reindex_occ_guard_fires_on_racing_ingest(spark, tmp_path):
    """The reindex OCC guard must actually FIRE: expected versions are
    pinned at watermark-check time, so an ingest landing between the
    corpus read and the commits surfaces as SnapshotConflict instead of
    silently erasing the ingested batch's index increments (round-8
    review: versions were re-read right before each commit, making the
    guard vacuous)."""
    import pyspark.sql.functions as F

    import ros_sql_spark.operators.dedup as od
    from ros_sql_spark.sources.io import load_table
    from ros_sql_spark.sources.snapshot import SnapshotConflict
    from ros_sql_spark.streaming.dedup import (
        setsim_ingest_batch,
        setsim_reindex,
    )
    from tests.conftest import SF_SMALL

    docs = load_table(spark, SF_SMALL, "documents").select("doc_id", "text")
    store = str(tmp_path / "corpus")
    thr = 0.3
    setsim_ingest_batch(docs.filter(F.col("doc_id") < 60), 0, store,
                        threshold=thr)

    real_index = od.setsim_index

    def racing_index(*a, **kw):
        # simulate an ingest batch landing AFTER the reindex pinned its
        # versions but BEFORE its commits
        setsim_ingest_batch(
            docs.filter((F.col("doc_id") >= 60) & (F.col("doc_id") < 120)),
            1, store, threshold=thr,
        )
        return real_index(*a, **kw)

    od.setsim_index = racing_index
    try:
        with pytest.raises(SnapshotConflict):
            setsim_reindex(spark, store, threshold=thr)
    finally:
        od.setsim_index = real_index
    # the racing ingest's state is intact and a clean reindex succeeds
    setsim_reindex(spark, store, threshold=thr)


def test_setsim_full_replay_early_exit_counts(spark, tmp_path):
    """A FULLY-replayed batch (all five tables already watermarked)
    must return the original ledger counts from two narrow scans
    without re-running the similarity join (round-8 review)."""
    import pyspark.sql.functions as F

    from ros_sql_spark.sources.io import load_table
    from ros_sql_spark.streaming.dedup import setsim_ingest_batch
    from tests.conftest import SF_SMALL

    docs = load_table(spark, SF_SMALL, "documents").select("doc_id", "text")
    store = str(tmp_path / "corpus")
    thr = 0.3
    setsim_ingest_batch(docs.filter(F.col("doc_id") < 60), 0, store,
                        threshold=thr)
    first = setsim_ingest_batch(
        docs.filter((F.col("doc_id") >= 60) & (F.col("doc_id") < 120)),
        1, store, threshold=thr,
    )
    replay = setsim_ingest_batch(
        docs.filter((F.col("doc_id") >= 60) & (F.col("doc_id") < 120)),
        1, store, threshold=thr,
    )
    assert replay["committed"] == []
    assert replay["n_batch"] == first["n_batch"]
    assert replay["n_kept"] == first["n_kept"]
    assert replay["n_dropped"] == first["n_dropped"]


def test_setsim_partial_replay_after_vacuum_raises(spark, tmp_path):
    """Round-10 review finding: crash BEFORE the docs commit (index
    tables carry the batch, docs does not), then a maintenance vacuum
    (keep_last=1) reclaims the index tables' pre-batch versions.  The
    replay recompute can no longer rebuild the pre-batch probe state —
    it must RAISE, not probe an empty() base and publish duplicates of
    the corpus permanently (the partial-replay twin of the all-done
    accounting hole)."""
    import pytest

    import ros_sql_spark.streaming.dedup as sd
    from ros_sql_spark.sources.io import load_table
    from ros_sql_spark.sources.snapshot import (
        snapshot_compact,
        snapshot_vacuum,
    )
    from ros_sql_spark.streaming.dedup import setsim_ingest_batch
    from tests.conftest import SF_SMALL

    docs = load_table(spark, SF_SMALL, "documents").select("doc_id", "text")
    b0 = docs.filter(F.col("doc_id") < 60)
    b1 = docs.filter((F.col("doc_id") >= 60) & (F.col("doc_id") < 120))
    store = str(tmp_path / "corpus")
    setsim_ingest_batch(b0, 0, store, threshold=0.3)

    real_commit = sd.snapshot_commit

    def dying_commit(df, table, **kw):
        if table.endswith("/docs") and kw.get("tag") == "batch:1":
            raise RuntimeError("injected crash before docs commit")
        return real_commit(df, table, **kw)

    sd.snapshot_commit = dying_commit
    try:
        with pytest.raises(RuntimeError, match="injected"):
            setsim_ingest_batch(b1, 1, store, threshold=0.3)
    finally:
        sd.snapshot_commit = real_commit

    for n in ("sets", "prefix", "freq", "labels"):
        snapshot_compact(spark, f"{store}/{n}", target_files=1)
        snapshot_vacuum(spark, f"{store}/{n}", keep_last=1)

    with pytest.raises(RuntimeError, match="partial replay"):
        setsim_ingest_batch(b1, 1, store, threshold=0.3)


def test_topk_sketch_stream_guarantees_and_redelivery(spark, tmp_path):
    """Continuous heavy hitters: after the stream drains, the stored
    Misra–Gries state holds every ε-guarantee against the EXACT
    per-(event_type, user_id) counts of everything that flowed
    (c_low ≤ c ≤ c_low+err, absent ⇒ c ≤ err, err ≤ N/(k+1)), stays
    ≤ k+1 rows per group, and a full redelivery from a fresh
    checkpoint neither double-counts nor bumps the version (the
    batch:<id> watermark)."""
    import collections

    from ros_sql_spark.sources.io import load_table
    from ros_sql_spark.sources.snapshot import (
        snapshot_read,
        snapshot_versions,
    )
    from ros_sql_spark.streaming.sketch import topk_sketch_stream
    from tests.conftest import SF_SMALL

    ev = load_table(spark, SF_SMALL, "events").select(
        "event_type", "user_id"
    )
    src = str(tmp_path / "src")
    ev.repartition(4).write.parquet(src)
    table = str(tmp_path / "hh")
    k = 8

    def run(ck):
        q = topk_sketch_stream(
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 2)
            .parquet(src),
            table,
            checkpoint_path=str(tmp_path / ck),
            group_col="event_type",
            key_col="user_id",
            k=k,
        )
        q.awaitTermination(180)
        assert not q.isActive

    run("ck1")
    got = snapshot_read(spark, table).collect()
    true = collections.Counter(
        (r.event_type, r.user_id) for r in ev.collect()
    )
    ngroup = collections.Counter(g for g, _ in true.elements())
    errs, per_group = {}, collections.Counter()
    for r in got:
        errs.setdefault(r.event_type, r.err)
        assert r.err == errs[r.event_type]
        per_group[r.event_type] += 1
        if r.user_id is not None:
            c = true[(r.event_type, r.user_id)]
            assert r.c_low <= c <= r.c_low + r.err, r
    present = {
        (r.event_type, r.user_id) for r in got if r.user_id is not None
    }
    for (g, u), c in true.items():
        if (g, u) not in present:
            assert c <= errs[g], (g, u, c)
    for g, e in errs.items():
        assert e <= ngroup[g] // (k + 1), (g, e)
        assert per_group[g] <= k + 1
    assert len(errs) == 5  # every event type summarized

    v_before = snapshot_versions(spark, table)
    run("ck2")  # full redelivery: every batch id replays
    assert snapshot_versions(spark, table) == v_before
    again = snapshot_read(spark, table).collect()
    assert sorted(map(repr, again)) == sorted(map(repr, got))
