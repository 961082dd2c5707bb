"""Manifest-based snapshot tables: atomic commit, snapshot isolation,
time travel, optimistic concurrency, keyed MERGE, row-level DELETE,
compaction, vacuum and the batch-watermark sinks."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from tests.conftest import TEST_FULL

from ros_sql_spark.sources.snapshot import (
    SnapshotConflict,
    snapshot_commit,
    snapshot_read,
    snapshot_vacuum,
    snapshot_versions,
)


def _df(spark, lo, hi, tag):
    return spark.range(lo, hi).select(
        F.col("id"), F.lit(tag).alias("tag"), (F.col("id") % 3).alias("part")
    )


def test_commit_read_roundtrip_and_versions(spark, tmp_path):
    t = str(tmp_path / "tbl")
    v1 = snapshot_commit(_df(spark, 0, 100, "a"), t)
    assert v1 == 1
    assert snapshot_versions(spark, t) == [1]
    got = snapshot_read(spark, t)
    assert got.count() == 100
    assert {r.tag for r in got.select("tag").distinct().collect()} == {"a"}

    v2 = snapshot_commit(_df(spark, 0, 50, "b"), t)
    assert v2 == 2
    # latest is the overwrite; v1 still readable (time travel)
    assert snapshot_read(spark, t).count() == 50
    assert snapshot_read(spark, t, version=1).count() == 100


def test_empty_table_schema_true(spark, tmp_path):
    """A zero-row commit: Spark's one empty part file stays out of the
    manifest, and the read is still schema-true."""
    from ros_sql_spark.sources.snapshot import _read_manifest

    e = str(tmp_path / "empty")
    snapshot_commit(spark.createDataFrame([], "doc_id bigint, text string"), e)
    assert _read_manifest(spark, e, 1)["files"] == []
    got = snapshot_read(spark, e)
    assert got.count() == 0
    assert got.columns == ["doc_id", "text"]


def test_snapshot_isolation_under_concurrent_commit(spark, tmp_path):
    """A reader's resolved DataFrame must keep returning the OLD
    snapshot's rows even after a new commit lands (file list pinned at
    resolve time)."""
    t = str(tmp_path / "tbl")
    snapshot_commit(_df(spark, 0, 40, "old"), t)
    reader = snapshot_read(spark, t)  # resolves v1's file list NOW
    snapshot_commit(_df(spark, 0, 7, "new"), t)  # v2 lands mid-"query"
    assert reader.count() == 40
    assert {r.tag for r in reader.select("tag").distinct().collect()} == {"old"}
    assert snapshot_read(spark, t).count() == 7


def test_optimistic_concurrency_conflict(spark, tmp_path):
    t = str(tmp_path / "tbl")
    snapshot_commit(_df(spark, 0, 10, "a"), t)
    # writer thinks the table is at v0 but it moved to v1 -> conflict
    with pytest.raises(SnapshotConflict, match="expected version"):
        snapshot_commit(_df(spark, 0, 5, "b"), t, expected_version=0)
    # correct expectation succeeds
    assert snapshot_commit(_df(spark, 0, 5, "b"), t, expected_version=1) == 2


def test_vacuum_deletes_only_unreachable(spark, tmp_path):
    t = str(tmp_path / "tbl")
    snapshot_commit(_df(spark, 0, 30, "a"), t)
    snapshot_commit(_df(spark, 0, 20, "b"), t)
    snapshot_commit(_df(spark, 0, 10, "c"), t)
    deleted = snapshot_vacuum(spark, t, keep_last=1)
    assert deleted  # v1/v2 data gone
    assert snapshot_versions(spark, t) == [3]
    assert snapshot_read(spark, t).count() == 10
    with pytest.raises(FileNotFoundError):
        snapshot_read(spark, t, version=1)


def test_vacuum_noop_when_everything_kept(spark, tmp_path):
    t = str(tmp_path / "tbl")
    snapshot_commit(_df(spark, 0, 10, "a"), t)
    assert snapshot_vacuum(spark, t, keep_last=5) == []
    assert snapshot_read(spark, t).count() == 10


def test_read_missing_table_raises(spark, tmp_path):
    with pytest.raises(FileNotFoundError, match="no snapshots"):
        snapshot_read(spark, str(tmp_path / "nope"))


def test_append_mode_carries_files_by_reference(spark, tmp_path):
    t = str(tmp_path / "tbl")
    snapshot_commit(_df(spark, 0, 30, "a"), t)
    snapshot_commit(_df(spark, 100, 110, "b"), t, mode="append")
    latest = snapshot_read(spark, t)
    assert latest.count() == 40
    assert {r.tag for r in latest.select("tag").distinct().collect()} == {
        "a",
        "b",
    }
    # the append rewrote nothing: v1 still complete
    assert snapshot_read(spark, t, version=1).count() == 30


def test_commit_rejects_schema_drift(spark, tmp_path):
    """Mixed physical schemas in one snapshot would make reads fail
    nondeterministically (vectorized reader can't upcast INT32 files
    under an INT64 schema) — commits must enforce uniformity."""
    t = str(tmp_path / "tbl")
    snapshot_commit(_df(spark, 0, 10, "a"), t)
    drifted = _df(spark, 0, 5, "b").withColumn("part", F.lit(1))  # int32
    with pytest.raises(ValueError, match="schema mismatch"):
        snapshot_commit(drifted, t, mode="append")


def test_compact_preserves_rows_and_stream_idempotency(spark, tmp_path):
    """Compaction rewrites the fragmented snapshot into few files as a
    NEW version (old one still readable), carries the batch watermark
    forward so a post-compaction replay of the batches still skips, and
    never changes row content."""
    import json

    from ros_sql_spark.sources.snapshot import (
        snapshot_append_batch,
        snapshot_compact,
    )

    def batch(b):
        return _df(spark, 100 * b, 100 * b + 100, f"b{b}").repartition(2)

    t = str(tmp_path / "tbl")
    for b in range(3):  # one append commit per micro-batch: fragmented
        assert snapshot_append_batch(batch(b), t, b)
    frag_v = snapshot_versions(spark, t)[-1]
    before = {tuple(r) for r in snapshot_read(spark, t).collect()}
    assert len(before) == 300

    v = snapshot_compact(spark, t, target_files=1)
    assert v == frag_v + 1
    after = {tuple(r) for r in snapshot_read(spark, t).collect()}
    assert after == before
    # new manifest has exactly one data file; fragmented version intact
    mpath = f"{t}/_manifests/v{v:05d}.json"
    with open(mpath) as f:
        assert len(json.load(f)["files"]) == 1
    assert {
        tuple(r) for r in snapshot_read(spark, t, version=frag_v).collect()
    } == before

    # batch replay AFTER compaction: watermark carried -> still exactly-once
    for b in range(3):
        assert not snapshot_append_batch(batch(b), t, b)
    assert snapshot_versions(spark, t)[-1] == v
    assert {tuple(r) for r in snapshot_read(spark, t).collect()} == before


def test_direct_manifest_collision_raises(spark, tmp_path):
    """Two writers publishing the SAME version number: the second
    create-exclusive publish must fail with SnapshotConflict (the
    commit point), not silently interleave."""
    from ros_sql_spark.sources.snapshot import _publish_manifest

    t = str(tmp_path / "tbl")
    snapshot_commit(_df(spark, 0, 5, "a"), t)  # publishes v1
    with pytest.raises(SnapshotConflict, match="already published"):
        _publish_manifest(spark, t, 1, {"version": 1, "files": [], "schema": "{}"})


def test_append_batch_returns_commit_decision(spark, tmp_path):
    from ros_sql_spark.sources.snapshot import snapshot_append_batch

    t = str(tmp_path / "tbl")
    assert snapshot_append_batch(_df(spark, 0, 5, "a"), t, batch_id=0) is True
    assert snapshot_append_batch(_df(spark, 5, 9, "a"), t, batch_id=1) is True
    # replayed batch: skipped, no new version
    assert snapshot_append_batch(_df(spark, 0, 5, "a"), t, batch_id=1) is False
    assert snapshot_versions(spark, t) == [1, 2]
    assert snapshot_read(spark, t).count() == 9


def test_racing_writers_never_share_data(spark, tmp_path):
    """A writer that staged data for version 1 but LOSES the publish
    race must contribute zero rows to the winner's snapshot (writer-
    unique staging dirs), get a clean SnapshotConflict on publish, and
    have its orphaned staging dir reclaimed by vacuum."""
    from ros_sql_spark.sources.snapshot import _publish_manifest

    t = str(tmp_path / "tbl")
    # loser stages its data first (the worst interleaving)
    _df(spark, 100, 200, "loser").write.parquet(f"{t}/data/v00001-deadbeef")
    # winner commits version 1 normally
    snapshot_commit(_df(spark, 0, 10, "winner"), t)
    got = snapshot_read(spark, t)
    assert got.count() == 10  # loser's 100 staged rows NOT included
    assert {r.tag for r in got.select("tag").distinct().collect()} == {
        "winner"
    }
    # loser's publish attempt: clean conflict
    with pytest.raises(SnapshotConflict, match="already published"):
        _publish_manifest(
            spark, t, 1, {"version": 1, "files": [], "schema": "{}"}
        )
    # vacuum reclaims the loser's orphaned staging dir (version 1 is
    # published, so the loser can never succeed — safe to delete)
    deleted = snapshot_vacuum(spark, t, keep_last=1)
    assert any("deadbeef" in f for f in deleted)
    assert snapshot_read(spark, t).count() == 10


def test_stranded_tmp_manifest_is_invisible(spark, tmp_path):
    """A crash between manifest write and atomic rename strands only a
    dot-prefixed temp file: readers and version listings ignore it and
    the next commit publishes normally."""
    t = str(tmp_path / "tbl")
    snapshot_commit(_df(spark, 0, 10, "a"), t)
    # simulate the crash artifact: partial JSON in a temp manifest
    with open(f"{t}/_manifests/.tmp-v00002-cafe.json", "w") as f:
        f.write('{"version": 2, "files": [')  # torn write
    assert snapshot_versions(spark, t) == [1]
    assert snapshot_read(spark, t).count() == 10
    assert snapshot_commit(_df(spark, 0, 5, "b"), t) == 2
    assert snapshot_read(spark, t).count() == 5


def test_publish_io_error_is_not_conflict(spark, tmp_path):
    """Non-conflict publish failures must NOT be mapped to
    SnapshotConflict (whose remedy is retry): they re-raise unchanged."""
    from ros_sql_spark.sources.snapshot import _publish_manifest

    t = str(tmp_path / "tbl")
    # make _manifests a regular FILE: creating the temp manifest under
    # it is a structural IO error, not a version race
    (tmp_path / "tbl").mkdir()
    (tmp_path / "tbl" / "_manifests").write_text("not a directory")
    with pytest.raises(Exception) as ei:
        _publish_manifest(
            spark, t, 1, {"version": 1, "files": [], "schema": "{}"}
        )
    assert not isinstance(ei.value, SnapshotConflict)


def test_vacuum_skips_inflight_writer_dirs(spark, tmp_path):
    """Staging dirs NEWER than the newest published manifest belong to
    in-flight writers whose commit may still succeed: vacuum must not
    touch them."""
    import os

    t = str(tmp_path / "tbl")
    snapshot_commit(_df(spark, 0, 30, "a"), t)
    snapshot_commit(_df(spark, 0, 20, "b"), t)
    # emulate an in-flight writer staging version 3 mid-vacuum
    inflight = f"{t}/data/v00003-abc12345"
    _df(spark, 0, 5, "inflight").write.parquet(inflight)
    deleted = snapshot_vacuum(spark, t, keep_last=1)
    assert deleted  # v1's data was reclaimed
    assert all("v00003" not in f for f in deleted)
    assert os.path.isdir(inflight)  # in-flight staging untouched
    assert snapshot_read(spark, t).count() == 20


def test_vacuum_retention_floor(spark, tmp_path):
    """keep_last < 1 is refused, and a reader already pinned to the
    latest version keeps working across a concurrent vacuum."""
    t = str(tmp_path / "tbl")
    snapshot_commit(_df(spark, 0, 30, "a"), t)
    snapshot_commit(_df(spark, 0, 12, "b"), t)
    with pytest.raises(ValueError, match="keep_last"):
        snapshot_vacuum(spark, t, keep_last=0)
    reader = snapshot_read(spark, t)  # pins v2's file list
    snapshot_vacuum(spark, t, keep_last=1)
    assert reader.count() == 12  # current version's files never deleted


def test_append_batch_survives_interleaved_untagged_commit(spark, tmp_path):
    """An untagged manual commit (compaction, upsert, ad-hoc append)
    landing between a stream failure and its restart must not hide the
    batch watermark: the redelivered batch still skips."""
    from ros_sql_spark.sources.snapshot import snapshot_append_batch

    t = str(tmp_path / "tbl")
    assert snapshot_append_batch(_df(spark, 0, 5, "a"), t, batch_id=0)
    assert snapshot_append_batch(_df(spark, 5, 9, "a"), t, batch_id=1)
    # interleaved manual commit with no tag (e.g. an upsert)
    snapshot_commit(_df(spark, 100, 103, "manual"), t, mode="append")
    # redelivered batch 1: the last_batch watermark survives the
    # untagged commit, so the replay is still skipped
    assert snapshot_append_batch(_df(spark, 5, 9, "a"), t, batch_id=1) is False
    assert snapshot_read(spark, t).count() == 12


def test_append_batch_writer_watermark(spark, tmp_path):
    """A named writer's replay is checked against its own entry only:
    two writers each land batch 0, each one's replay is skipped, and the
    writer map survives an untagged delete and a compaction."""
    from ros_sql_spark.sources.snapshot import (
        _head,
        snapshot_append_batch,
        snapshot_compact,
        snapshot_delete,
    )

    t = str(tmp_path / "tbl")
    assert snapshot_append_batch(_df(spark, 0, 4, "a"), t, 0, writer="qa")
    assert snapshot_append_batch(_df(spark, 4, 8, "b"), t, 0, writer="qb")
    assert not snapshot_append_batch(_df(spark, 0, 4, "a"), t, 0, writer="qa")
    assert not snapshot_append_batch(_df(spark, 4, 8, "b"), t, 0, writer="qb")
    snapshot_delete(spark, t, "id = 0")
    snapshot_compact(spark, t)
    assert not snapshot_append_batch(_df(spark, 0, 4, "a"), t, 0, writer="qa")
    assert snapshot_append_batch(_df(spark, 8, 9, "a"), t, 1, writer="qa")
    assert snapshot_read(spark, t).count() == 8
    assert _head(spark, t)[1]["writer_batches"] == {"qa": 1, "qb": 0}


def test_append_batch_without_writer_keeps_table_watermark(spark, tmp_path):
    """``writer=None`` skips whatever the table-wide watermark covers and
    records no writer; a named writer never consults that watermark."""
    from ros_sql_spark.sources.snapshot import _head, snapshot_append_batch

    t = str(tmp_path / "tbl")
    assert snapshot_append_batch(_df(spark, 0, 4, "a"), t, 3)
    assert not snapshot_append_batch(_df(spark, 0, 4, "a"), t, 2)
    assert "writer_batches" not in _head(spark, t)[1]
    assert snapshot_append_batch(_df(spark, 4, 8, "b"), t, 0, writer="qb")
    assert not snapshot_append_batch(_df(spark, 8, 9, "c"), t, 3)
    assert snapshot_read(spark, t).count() == 8


def test_stats_recorded_and_pruned_read(spark, tmp_path):
    """Commit with stats_cols → manifest carries per-file min/max;
    a pruned read of a range-clustered table opens strictly fewer files
    and returns the IDENTICAL rows the exact filter would."""
    t = str(tmp_path / "tbl")
    df = (
        _df(spark, 0, 1000, "a")
        .repartitionByRange(8, F.col("id"))
        .sortWithinPartitions("id")
    )
    snapshot_commit(df, t, stats_cols=["id"])
    full = snapshot_read(spark, t)
    assert len(full.inputFiles()) == 8
    pruned = snapshot_read(spark, t, prune={"id": (0, 99)})
    assert 0 < len(pruned.inputFiles()) < 8
    got = sorted(r.id for r in pruned.filter("id <= 99").collect())
    want = sorted(r.id for r in full.filter("id <= 99").collect())
    assert got == want == list(range(100))
    # point lookup form (scalar bound)
    point = snapshot_read(spark, t, prune={"id": 500})
    assert 0 < len(point.inputFiles()) < 8
    assert point.filter("id = 500").count() == 1


def test_prune_without_stats_keeps_all_files(spark, tmp_path):
    """Pruning on a column with no recorded stats must be a no-op (safe
    default), and results stay correct."""
    t = str(tmp_path / "tbl")
    snapshot_commit(
        _df(spark, 0, 100, "a").repartition(4), t  # no stats_cols
    )
    full = snapshot_read(spark, t)
    pruned = snapshot_read(spark, t, prune={"id": (0, 5)})
    assert len(pruned.inputFiles()) == len(full.inputFiles())
    assert pruned.filter("id < 6").count() == 6


def test_append_carries_stats_and_inherits_stats_cols(spark, tmp_path):
    """Appends keep carried files' stats unchanged and footer-scan only
    the new files; stats_cols is sticky (inherited when omitted)."""
    from ros_sql_spark.sources.snapshot import _read_manifest

    t = str(tmp_path / "tbl")
    snapshot_commit(
        _df(spark, 0, 100, "a").coalesce(1), t, stats_cols=["id"]
    )
    snapshot_commit(
        _df(spark, 1000, 1100, "b").coalesce(1), t, mode="append"
    )  # no stats_cols passed — inherited
    m = _read_manifest(spark, t, 2)
    assert m["stats_cols"] == ["id"]
    assert len(m["stats"]) == len(m["files"]) == 2
    # disjoint ranges → pruned point read touches exactly one file
    pruned = snapshot_read(spark, t, prune={"id": (1000, None)})
    assert len(pruned.inputFiles()) == 1
    assert pruned.count() == 100
    assert {r.tag for r in pruned.select("tag").distinct().collect()} == {"b"}


def test_prune_empty_result_keeps_schema(spark, tmp_path):
    t = str(tmp_path / "tbl")
    snapshot_commit(_df(spark, 0, 10, "a").coalesce(1), t, stats_cols=["id"])
    out = snapshot_read(spark, t, prune={"id": (10_000, None)})
    assert out.count() == 0
    assert out.columns == ["id", "tag", "part"]


def test_compact_cluster_by_enables_skipping(spark, tmp_path):
    """Streaming-append fragmentation: each appended file spans its own
    narrow id range here, but after a clustered compaction the pruned
    point read opens exactly one of the rewritten files and total rows
    are preserved."""
    t = str(tmp_path / "tbl")
    snapshot_commit(
        _df(spark, 0, 400, "a").repartition(4), t, stats_cols=["id"]
    )  # repartition (round-robin): every file spans ~the full id range
    pre = snapshot_read(spark, t, prune={"id": 7})
    # round-robin files span wide ranges: most files survive the prune
    assert len(pre.inputFiles()) >= 3
    from ros_sql_spark.sources.snapshot import snapshot_compact

    v = snapshot_compact(spark, t, target_files=4, cluster_by=["id"])
    post = snapshot_read(spark, t, version=v, prune={"id": 7})
    assert len(post.inputFiles()) == 1
    assert post.filter("id = 7").count() == 1
    assert snapshot_read(spark, t, version=v).count() == 400


def test_merge_upserts_and_prunes_rewrites(spark, tmp_path):
    """MERGE on a key-clustered table: matched keys update, new keys
    insert, and files provably outside df's key range are CARRIED by
    reference (their paths appear verbatim in the new manifest)."""
    from ros_sql_spark.sources.snapshot import (
        _read_manifest,
        snapshot_compact,
        snapshot_merge,
    )

    t = str(tmp_path / "tbl")
    snapshot_commit(
        _df(spark, 0, 800, "base").repartition(8), t, stats_cols=["id"]
    )
    snapshot_compact(spark, t, target_files=8, cluster_by=["id"])
    pre_files = set(_read_manifest(spark, t, 2)["files"])
    # upsert: ids 0-49 update, 10_000-10_049 insert — touches only the
    # low end of the clustered range
    up = _df(spark, 0, 50, "upd").union(_df(spark, 10_000, 10_050, "new"))
    v = snapshot_merge(up, t, keys=["id"])
    m = _read_manifest(spark, t, v)
    carried = [f for f in m["files"] if f in pre_files]
    assert carried, "stats pruning carried no files — rewrite was total"
    assert len(carried) < 8
    got = snapshot_read(spark, t, version=v)
    assert got.count() == 800 + 50  # 50 updated in place, 50 inserted
    assert got.filter("id < 50 AND tag = 'upd'").count() == 50
    assert got.filter("id < 50 AND tag = 'base'").count() == 0
    assert got.filter("id >= 10000").count() == 50
    assert got.filter("tag = 'base'").count() == 750
    # carried files kept their stats: a pruned point read still narrows
    assert len(snapshot_read(spark, t, version=v,
                             prune={"id": 700}).inputFiles()) < len(m["files"])


def test_merge_without_stats_rewrites_all_but_stays_correct(spark, tmp_path):
    from ros_sql_spark.sources.snapshot import snapshot_merge

    t = str(tmp_path / "tbl")
    snapshot_commit(_df(spark, 0, 100, "base").repartition(4), t)  # no stats
    v = snapshot_merge(_df(spark, 90, 110, "up"), t, keys=["id"])
    got = snapshot_read(spark, t, version=v)
    assert got.count() == 110
    assert got.filter("tag = 'up'").count() == 20
    assert got.filter("id < 90 AND tag = 'base'").count() == 90


def test_merge_on_empty_table_is_first_commit(spark, tmp_path):
    from ros_sql_spark.sources.snapshot import snapshot_merge

    t = str(tmp_path / "tbl")
    assert snapshot_merge(_df(spark, 0, 10, "a"), t, keys=["id"]) == 1
    assert snapshot_read(spark, t).count() == 10


def test_merge_with_string_key_stats_prune(spark, tmp_path):
    """Key pruning must work for STRING keys too: parquet footers carry
    string min/max, the file-bounds table is string-typed, and BETWEEN
    compares lexicographically on both sides."""
    from ros_sql_spark.sources.snapshot import _read_manifest, snapshot_merge

    t = str(tmp_path / "tbl")
    df = spark.range(0, 260).selectExpr(
        "concat('k', lpad(cast(id as string), 3, '0')) AS k",
        "cast(id as bigint) AS v",
    )
    snapshot_commit(
        df.repartitionByRange(4, F.col("k")).sortWithinPartitions("k"),
        t,
        stats_cols=["k"],
    )
    up = spark.range(0, 5).selectExpr(
        "concat('k', lpad(cast(id as string), 3, '0')) AS k",
        "cast(9999 as bigint) AS v",
    )
    v = snapshot_merge(up, t, keys=["k"])
    m = _read_manifest(spark, t, v)
    pre = set(_read_manifest(spark, t, 1)["files"])
    assert sum(1 for f in m["files"] if f in pre) == 3  # low file rewritten
    got = snapshot_read(spark, t, version=v)
    assert got.count() == 260
    assert got.filter("v = 9999").count() == 5


def test_concurrent_append_retry_soak(spark, tmp_path):
    """4 threads race 3 appends each with the documented retry-on-
    conflict loop: every commit eventually lands exactly once (no lost
    rows, no duplicates — the writer-unique staging + create-exclusive
    publish guarantees), and versions are a gap-free sequence."""
    import threading

    from ros_sql_spark.sources.snapshot import SnapshotConflict

    t = str(tmp_path / "tbl")
    snapshot_commit(_df(spark, 0, 1, "seed"), t)
    errors = []

    def writer(wid: int) -> None:
        try:
            for j in range(3):
                lo = 1000 * (wid + 1) + 10 * j
                df = _df(spark, lo, lo + 10, f"w{wid}")
                for _ in range(40):  # retry loop
                    try:
                        snapshot_commit(df, t, mode="append")
                        break
                    except SnapshotConflict:
                        continue
                else:
                    raise AssertionError(f"writer {wid} starved")
        except Exception as e:  # surface into the main thread
            errors.append(e)

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(4)]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=300)
    assert not errors, errors
    vs = snapshot_versions(spark, t)
    assert vs == list(range(1, 14))  # 1 seed + 12 appends, gap-free
    got = snapshot_read(spark, t)
    assert got.count() == 1 + 4 * 3 * 10
    per_tag = {
        r.tag: r["count"]
        for r in got.groupBy("tag").count().collect()
    }
    assert all(per_tag[f"w{i}"] == 30 for i in range(4))


# ---- row-level DML: DELETE ------------------------------------------


def test_delete_prunes_files_and_matches_semantics(spark, tmp_path):
    """Ranged DELETE on a clustered table: files outside the range are
    carried by reference, and the result equals the ANSI delete (only
    predicate-TRUE rows go)."""
    from ros_sql_spark.sources.snapshot import (
        _read_manifest,
        snapshot_compact,
        snapshot_delete,
    )

    t = str(tmp_path / "tbl")
    snapshot_commit(
        _df(spark, 0, 800, "base").repartition(8), t, stats_cols=["id"]
    )
    snapshot_compact(spark, t, target_files=8, cluster_by=["id"])
    pre_files = set(_read_manifest(spark, t, 2)["files"])
    v = snapshot_delete(
        spark, t, "tag = 'base'", prune={"id": (100, 199)}
    )
    m = _read_manifest(spark, t, v)
    carried = [f for f in m["files"] if f in pre_files]
    assert carried, "stats pruning carried no files — rewrite was total"
    assert len(carried) < 8
    got = snapshot_read(spark, t, version=v)
    assert got.count() == 700
    assert got.filter("id BETWEEN 100 AND 199").count() == 0
    assert got.filter("id < 100").count() == 100
    # carried files kept their stats: point reads still prune
    assert len(
        snapshot_read(spark, t, version=v, prune={"id": 700}).inputFiles()
    ) < len(m["files"])


def test_delete_null_predicate_keeps_rows(spark, tmp_path):
    """ANSI three-valued DELETE: rows where the predicate evaluates to
    NULL survive (NOT-filter alone would drop them)."""
    from ros_sql_spark.sources.snapshot import snapshot_delete

    t = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(1, 10), (2, None), (3, 30)], "id INT, x INT"
    )
    snapshot_commit(df, t)
    snapshot_delete(spark, t, "x > 20")
    got = {r.id for r in snapshot_read(spark, t).collect()}
    assert got == {1, 2}  # id=2 has NULL predicate → kept


def test_delete_noop_and_unconditional_refused(spark, tmp_path):
    from ros_sql_spark.sources.snapshot import snapshot_delete

    t = str(tmp_path / "tbl")
    snapshot_commit(_df(spark, 0, 100, "a"), t, stats_cols=["id"])
    # prune range provably outside every file: metadata no-op, no commit
    v = snapshot_delete(spark, t, prune={"id": (10_000, 20_000)})
    assert v == 1
    assert snapshot_versions(spark, t) == [1]
    with pytest.raises(ValueError, match="unconditional"):
        snapshot_delete(spark, t)


# ---- schema contract -----------------------------------------------


def test_schema_evolution_rejects_drop_and_retype(spark, tmp_path):
    """A snapshot table keeps its schema: a dropped, retyped or added
    column is rejected and names the offending column."""
    t = str(tmp_path / "tbl")
    snapshot_commit(_df(spark, 0, 10, "a"), t)
    with pytest.raises(ValueError, match=r"dropped: \['part'\]"):
        snapshot_commit(
            _df(spark, 0, 5, "b").drop("part"),
            t,
            mode="append",
        )
    with pytest.raises(ValueError, match=r"retyped: \['part'\]"):
        snapshot_commit(
            _df(spark, 0, 5, "b").withColumn(
                "part", F.col("part").cast("int")
            ),
            t,
            mode="append",
        )
    with pytest.raises(ValueError, match=r"added: \['score'\]"):
        snapshot_commit(
            _df(spark, 0, 5, "b").withColumn("score", F.col("id") * 1.5),
            t,
            mode="append",
        )
    assert snapshot_versions(spark, t) == [1]


def test_retention_delete_drops_contained_files_metadata_only(
    spark, tmp_path
):
    """Prune-only DELETE (the retention shape): files whose min/max are
    CONTAINED in the bounds vanish from the manifest without being read
    or rewritten — only boundary-straddling files rewrite."""
    from ros_sql_spark.sources.snapshot import (
        _read_manifest,
        snapshot_delete,
    )

    t = str(tmp_path / "tbl")
    # three appends with disjoint id ranges → per-file stats are tight
    snapshot_commit(
        _df(spark, 0, 100, "old").coalesce(1), t, stats_cols=["id"]
    )
    snapshot_commit(
        _df(spark, 100, 200, "mid").coalesce(1), t, mode="append"
    )
    snapshot_commit(
        _df(spark, 200, 300, "new").coalesce(1), t, mode="append"
    )
    pre = _read_manifest(spark, t, 3)
    assert len(pre["files"]) == 3
    # retention cutoff at 150: file [0,99] fully expired, [100,199]
    # straddles, [200,299] untouched
    v = snapshot_delete(spark, t, prune={"id": (None, 149)})
    m = _read_manifest(spark, t, v)
    got = snapshot_read(spark, t, version=v)
    assert got.count() == 150
    assert got.filter("id < 150").count() == 0
    # the expired file is GONE and was not rewritten: exactly one new
    # file (the straddler's rewrite) + one carried original
    old_kept = [f for f in m["files"] if f in set(pre["files"])]
    assert len(old_kept) == 1  # only the [200,299] file carried
    assert len(m["files"]) <= 2


def test_retention_delete_empties_table(spark, tmp_path):
    from ros_sql_spark.sources.snapshot import snapshot_delete

    t = str(tmp_path / "tbl")
    snapshot_commit(
        _df(spark, 0, 50, "a").coalesce(1), t, stats_cols=["id"]
    )
    v = snapshot_delete(spark, t, prune={"id": (None, 10_000)})
    got = snapshot_read(spark, t, version=v)
    assert got.count() == 0
    assert [f.name for f in got.schema.fields] == ["id", "tag", "part"]


def test_delete_with_where_never_drops_files_blind(spark, tmp_path):
    """With a residual ``where``, containment proves nothing — the file
    must rewrite, and rows failing the residual survive."""
    from ros_sql_spark.sources.snapshot import (
        _read_manifest,
        snapshot_delete,
    )

    t = str(tmp_path / "tbl")
    snapshot_commit(
        _df(spark, 0, 100, "a").coalesce(1), t, stats_cols=["id"]
    )
    pre = set(_read_manifest(spark, t, 1)["files"])
    v = snapshot_delete(
        spark, t, "part = 0", prune={"id": (None, 10_000)}
    )
    m = _read_manifest(spark, t, v)
    assert not [f for f in m["files"] if f in pre]  # rewritten, not kept
    got = snapshot_read(spark, t, version=v)
    assert got.filter("part = 0").count() == 0
    assert got.count() == _df(spark, 0, 100, "a").filter("part != 0").count()


def test_vacuum_reclaims_retention_dropped_files(spark, tmp_path):
    """retention DELETE → vacuum: the metadata-dropped files physically
    disappear, and the current version keeps serving."""
    import os

    from ros_sql_spark.sources.snapshot import snapshot_delete

    t = str(tmp_path / "tbl")
    snapshot_commit(
        _df(spark, 0, 100, "old").coalesce(1), t, stats_cols=["id"]
    )
    snapshot_commit(
        _df(spark, 200, 300, "new").coalesce(1), t, mode="append"
    )
    v = snapshot_delete(spark, t, prune={"id": (None, 150)})
    deleted = snapshot_vacuum(spark, t, keep_last=1)
    assert deleted, "vacuum reclaimed nothing"
    for f in deleted:
        assert not os.path.exists(f[5:] if f.startswith("file:") else f)
    got = snapshot_read(spark, t, version=v)
    assert got.count() == 100
    assert got.filter("id < 200").count() == 0


def test_dml_vs_append_race_soak(spark, tmp_path):
    """A streaming-style appender races a retention deleter, both with
    the documented retry-on-conflict loop: every append lands exactly
    once (the delete's bounds never cover appended ids, so OCC must
    never let a delete swallow a concurrent append), the expired range
    is gone, and versions stay gap-free."""
    import threading

    from ros_sql_spark.sources.snapshot import (
        SnapshotConflict,
        snapshot_delete,
    )

    t = str(tmp_path / "tbl")
    snapshot_commit(
        _df(spark, 0, 100, "base").coalesce(1), t, stats_cols=["id"]
    )
    errors = []

    def appender() -> None:
        try:
            for j in range(6):
                df = _df(
                    spark, 10_000 + 10 * j, 10_000 + 10 * j + 10, "app"
                ).coalesce(1)
                for _ in range(60):
                    try:
                        snapshot_commit(df, t, mode="append")
                        break
                    except SnapshotConflict:
                        continue
                else:
                    raise AssertionError("appender starved")
        except Exception as e:
            errors.append(e)

    th = threading.Thread(target=appender)
    th.start()
    for _ in range(4):
        for _ in range(60):
            try:
                snapshot_delete(spark, t, prune={"id": (None, 5000)})
                break
            except SnapshotConflict:
                continue
        else:
            raise AssertionError("deleter starved")
    th.join(timeout=300)
    assert not errors, errors
    got = snapshot_read(spark, t)
    assert got.filter("id < 5000").count() == 0  # base expired
    assert got.filter("tag = 'app'").count() == 60  # nothing lost
    vs = snapshot_versions(spark, t)
    assert vs == list(range(1, len(vs) + 1))  # gap-free


def test_meta_binding_carried_and_replaced(spark, tmp_path):
    """snapshot_commit(meta=...): pinned to the snapshot, carried
    forward by append/compact/metadata-only DML, replaced only
    explicitly, and historical versions keep their own binding."""
    from ros_sql_spark.sources.snapshot import (
        snapshot_compact,
        snapshot_delete,
        snapshot_meta,
    )

    t = str(tmp_path / "tbl")
    snapshot_commit(
        _df(spark, 0, 50, "a").coalesce(1), t,
        stats_cols=["id"], meta={"gen": 1},
    )
    snapshot_commit(_df(spark, 100, 150, "b").coalesce(1), t, mode="append")
    assert snapshot_meta(spark, t) == {"gen": 1}  # append carries
    snapshot_compact(spark, t, target_files=1)
    assert snapshot_meta(spark, t) == {"gen": 1}  # compact carries
    snapshot_delete(spark, t, prune={"id": (0, 60)})  # metadata-only drop
    assert snapshot_meta(spark, t) == {"gen": 1}  # pure-metadata carries
    snapshot_commit(_df(spark, 0, 10, "c"), t, meta={"gen": 2})
    assert snapshot_meta(spark, t) == {"gen": 2}  # explicit replace
    assert snapshot_meta(spark, t, version=1) == {"gen": 1}  # history


_XPROC_WORKER = r'''
import sys, time, os
table, wid = sys.argv[1], int(sys.argv[2])
barrier = sys.argv[3]
from pyspark.sql import SparkSession
spark = (
    SparkSession.builder.master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
sys.path.insert(0, os.path.dirname(barrier))
from ros_sql_spark.sources.snapshot import SnapshotConflict, snapshot_commit

open(barrier + f".ready{wid}", "w").close()
while not os.path.exists(barrier):  # start together: maximize racing
    time.sleep(0.05)
for j in range(4):
    lo = 1000 * (wid + 1) + 10 * j
    df = spark.createDataFrame(
        [(i, f"w{wid}") for i in range(lo, lo + 10)], "id long, tag string"
    )
    for _ in range(60):
        try:
            snapshot_commit(df, table, mode="append")
            break
        except SnapshotConflict:
            continue
    else:
        print("STARVED", wid); sys.exit(2)
print("OK", wid)
spark.stop()
'''


@pytest.mark.slow  # >=10s in the r11 duration profile
@pytest.mark.skipif(
    not TEST_FULL,
    reason="cross-process soak: opt-in tier (ROSQL_TEST_FULL=1); the "
    "in-process OCC race (test_concurrent_append_retry_soak) and the "
    "single-shot cross-process commit semantics stay default",
)
def test_cross_process_occ_soak(spark, tmp_path):
    """The r5 verdict's one untested claim: the rename-without-overwrite
    commit point must hold across SEPARATE JVMs, not just threads in
    one (HDFS FileContext semantics).  Two independent Spark processes
    race 4 appends each on a shared table behind a start barrier; every
    commit lands exactly once, versions stay gap-free, and no rows are
    lost or duplicated."""
    import os
    import subprocess
    import sys
    import time

    t = str(tmp_path / "xtbl")
    snapshot_commit(
        spark.createDataFrame([(0, "seed")], "id long, tag string"), t
    )
    barrier = str(tmp_path / "go")
    env = dict(os.environ)
    env["PYTHONPATH"] = "/root/repo" + os.pathsep + env.get("PYTHONPATH", "")
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", _XPROC_WORKER, t, str(w), barrier],
            env=env,
            stdout=subprocess.PIPE,
            stderr=subprocess.STDOUT,
        )
        for w in range(2)
    ]
    deadline = time.time() + 240
    while time.time() < deadline and not all(
        os.path.exists(barrier + f".ready{w}") for w in range(2)
    ):
        time.sleep(0.2)
    open(barrier, "w").close()  # both sessions up: fire the gun
    outs = [p.communicate(timeout=300)[0].decode() for p in procs]
    for w, (p, out) in enumerate(zip(procs, outs)):
        assert p.returncode == 0 and f"OK {w}" in out, out[-2000:]

    vs = snapshot_versions(spark, t)
    assert vs == list(range(1, 10))  # 1 seed + 2×4 appends, gap-free
    got = snapshot_read(spark, t)
    assert got.count() == 1 + 2 * 4 * 10
    assert got.select("id").distinct().count() == 1 + 2 * 4 * 10
    per_tag = {r.tag: r["count"] for r in got.groupBy("tag").count().collect()}
    assert per_tag == {"seed": 1, "w0": 40, "w1": 40}


def test_hadoop_readable_bounded_read(spark, tmp_path):
    """The r6-review bug: py4j resolves IOUtils.copyBytes(in, out, n,
    False) to the int-buffSize WHOLE-STREAM overload, so read(n) used
    to return every byte to EOF.  The adapter must return exactly n
    bytes, honor seek/tell, flip .closed, and still parse a real
    parquet footer."""
    import pyarrow.parquet as papq

    from ros_sql_spark.sources.snapshot import _HadoopReadable

    p = str(tmp_path / "t.parquet")
    spark.range(1000).coalesce(1).write.parquet(p)
    f = [x for x in __import__("os").listdir(p) if x.endswith(".parquet")][0]
    path = f"{p}/{f}"

    r = _HadoopReadable(spark, path)
    try:
        assert len(r.read(16)) == 16  # NOT the whole file
        assert r.tell() == 16
        r.seek(-8, 2)
        tail = r.read(8)
        assert len(tail) == 8 and tail[-4:] == b"PAR1"
        r.seek(0)
        md = papq.ParquetFile(r).metadata
        assert md.num_rows == 1000
    finally:
        r.close()
    assert r.closed is True


_XPROC_DML_WORKER = r'''
import sys, time, os
table, wid = sys.argv[1], int(sys.argv[2])
barrier = sys.argv[3]
from pyspark.sql import SparkSession
spark = (
    SparkSession.builder.master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
from ros_sql_spark.sources.snapshot import (
    SnapshotConflict,
    snapshot_commit,
    snapshot_delete,
    snapshot_merge,
)

def retrying(fn):
    for _ in range(120):
        try:
            return fn()
        except SnapshotConflict:
            time.sleep(0.02)
    print("STARVED", wid); sys.exit(2)

open(barrier + f".ready{wid}", "w").close()
while not os.path.exists(barrier):
    time.sleep(0.05)
if wid == 0:
    # appender: 4 batches of fresh keys
    for j in range(4):
        lo = 1000 + 10 * j
        df = spark.createDataFrame(
            [(i, "w0") for i in range(lo, lo + 10)], "id long, tag string"
        )
        retrying(lambda: snapshot_commit(df, table, mode="append"))
else:
    # keyed-DML writer: merges + a ranged delete, sequential, each
    # racing the appender's commits for the version slot
    for j, tag in enumerate(("m0", "m1")):
        up = spark.createDataFrame(
            [(i, tag) for i in range(0, 20)], "id long, tag string"
        )
        retrying(lambda: snapshot_merge(up, table, keys=["id"]))
    retrying(lambda: snapshot_delete(spark, table, prune={"id": (80, 89)}))
    up = spark.createDataFrame(
        [(i, "m2") for i in range(0, 20)], "id long, tag string"
    )
    retrying(lambda: snapshot_merge(up, table, keys=["id"]))
print("OK", wid)
spark.stop()
'''


@pytest.mark.slow  # >=10s in the r11 duration profile
@pytest.mark.skipif(
    not TEST_FULL,
    reason="cross-process soak: opt-in tier (ROSQL_TEST_FULL=1); the "
    "in-process OCC race (test_concurrent_append_retry_soak) and the "
    "single-shot cross-process commit semantics stay default",
)
def test_cross_process_keyed_dml_soak(spark, tmp_path):
    """r6 directive #5: the file-candidacy REWRITE path (merge /
    ranged delete, expected_version-guarded, carry-by-reference for
    untouched files) must hold across separate JVMs racing an appender
    at the rename-without-overwrite commit point — not just appends.
    Final state is deterministic because the key sets are disjoint and
    each writer is internally sequential: zero lost or duplicated rows,
    gap-free versions, carried files still readable."""
    import os
    import subprocess
    import sys
    import time

    t = str(tmp_path / "dmltbl")
    # seed across several files so merges CARRY most files by reference
    seed = spark.createDataFrame(
        [(i, "seed") for i in range(100)], "id long, tag string"
    ).repartition(8, "id")
    snapshot_commit(seed, t, stats_cols=["id"])
    barrier = str(tmp_path / "go")
    env = dict(os.environ)
    env["PYTHONPATH"] = "/root/repo" + os.pathsep + env.get("PYTHONPATH", "")
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", _XPROC_DML_WORKER, t, str(w), barrier],
            env=env,
            stdout=subprocess.PIPE,
            stderr=subprocess.STDOUT,
        )
        for w in range(2)
    ]
    deadline = time.time() + 240
    while time.time() < deadline and not all(
        os.path.exists(barrier + f".ready{w}") for w in range(2)
    ):
        time.sleep(0.2)
    open(barrier, "w").close()
    outs = [p.communicate(timeout=300)[0].decode() for p in procs]
    for w, (p, out) in enumerate(zip(procs, outs)):
        assert p.returncode == 0 and f"OK {w}" in out, out[-2000:]

    vs = snapshot_versions(spark, t)
    # 1 seed + 4 appends + 3 merges + 1 ranged delete, gap-free
    assert vs == list(range(1, 10))
    got = snapshot_read(spark, t)
    rows = {r.id: r.tag for r in got.collect()}
    assert got.count() == len(rows), "duplicated keys"
    expect = {i: "m2" for i in range(0, 20)}
    expect.update({i: "seed" for i in range(20, 80)})
    expect.update({i: "seed" for i in range(90, 100)})
    expect.update({i: "w0" for i in range(1000, 1040)})
    assert rows == expect


def test_retention_fast_path_never_blind_drops_null_rows(spark, tmp_path):
    """ANSI DELETE keeps rows where the predicate is NULL; parquet
    min/max exclude NULLs, so a file whose non-null range is contained
    in the bounds must NOT be dropped metadata-only when it also holds
    NULL rows (round-8 review: it was — silent data loss whose
    semantics depended on file layout)."""
    from ros_sql_spark.sources.snapshot import snapshot_delete

    t = str(tmp_path / "tbl")
    withnulls = spark.createDataFrame(
        [(1, 10), (2, 20), (3, None), (4, None)],
        "id long, ts long",
    ).coalesce(1)
    snapshot_commit(withnulls, t, stats_cols=["ts"])
    snapshot_delete(spark, t, prune={"ts": (None, 100)})
    kept = {(r.id, r.ts) for r in snapshot_read(spark, t).collect()}
    assert kept == {(3, None), (4, None)}, kept

    # and a null-FREE contained file still takes the metadata-only
    # path: the new version introduces no new data files (pure carry)
    t2 = str(tmp_path / "tbl2")
    snapshot_commit(
        spark.createDataFrame([(1, 10), (2, 20)], "id long, ts long")
        .coalesce(1),
        t2,
        stats_cols=["ts"],
    )
    snapshot_commit(
        spark.createDataFrame([(5, 500)], "id long, ts long").coalesce(1),
        t2,
        mode="append",
    )
    from ros_sql_spark.sources.snapshot import _read_manifest

    before = set(_read_manifest(spark, t2, 2)["files"])
    v = snapshot_delete(spark, t2, prune={"ts": (None, 100)})
    after = set(_read_manifest(spark, t2, v)["files"])
    assert after < before  # dropped metadata-only: no new files written
    assert {r.id for r in snapshot_read(spark, t2).collect()} == {5}


def test_merge_drop_enforcement_is_layout_independent(spark, tmp_path):
    """snapshot_merge must raise the same error for a df missing an
    EXISTING column whether or not key pruning finds candidate files
    (round-8 review: with candidates, the union silently refilled the
    column as NULL and committed)."""
    from ros_sql_spark.sources.snapshot import snapshot_merge

    t = str(tmp_path / "tbl")
    snapshot_commit(_df(spark, 0, 50, "a").coalesce(1), t, stats_cols=["id"])
    dropped = spark.range(10, 20).select("id")  # missing tag, part

    # keys overlap stored bounds -> candidates exist
    with pytest.raises(ValueError, match="missing existing columns"):
        snapshot_merge(dropped, t, keys=["id"])
    # keys beyond all bounds -> no candidates; SAME error
    far = spark.range(1000, 1010).select("id")
    with pytest.raises(ValueError, match="missing existing columns"):
        snapshot_merge(far, t, keys=["id"])
    # table unchanged by both failed statements
    assert snapshot_versions(spark, t) == [1]


def test_metadata_only_delete_bumps_batch_watermark(spark, tmp_path):
    """A batch-tagged retention delete that takes the PURE-METADATA
    path must advance last_batch exactly like the rewrite path would —
    otherwise a replayed batch re-commits (round-8 review)."""
    from ros_sql_spark.sources.snapshot import (
        _list_versions,
        _read_manifest,
        snapshot_append_batch,
        snapshot_delete,
    )

    t = str(tmp_path / "tbl")
    snapshot_append_batch(_df(spark, 0, 50, "a").coalesce(1), t, 6,
                          stats_cols=["id"])
    v = snapshot_delete(spark, t, prune={"id": (0, 100)}, tag="batch:7")
    m = _read_manifest(spark, t, v)
    assert m.get("last_batch") == 7, m
    # a replayed batch 7 append is now skipped
    assert not snapshot_append_batch(_df(spark, 50, 60, "b"), t, 7)
    assert snapshot_versions(spark, t)[-1] == v


def test_vacuum_reclaims_dataless_staging_dirs(spark, tmp_path):
    """A staging directory at/below the published watermark holding NO
    manifest-visible data files (a crashed writer's _temporary
    leftovers) must be reclaimed by vacuum instead of surviving
    forever (round-8 review)."""
    import os

    from ros_sql_spark.sources.snapshot import snapshot_vacuum

    t = str(tmp_path / "tbl")
    snapshot_commit(_df(spark, 0, 20, "a").coalesce(1), t)
    ghost = os.path.join(t, "data", "v00001-deadbeef", "_temporary")
    os.makedirs(ghost)
    assert snapshot_vacuum(spark, t) is not None
    assert not os.path.exists(os.path.dirname(ghost))
    # the live version's data is untouched
    assert snapshot_read(spark, t).count() == 20


def _sketch_events(spark, lo):
    return spark.createDataFrame(
        [("g", i % 7, i) for i in range(lo, lo + 40)],
        "s string, v int, key int",
    )


def _pre_state_guarded_append(spark, t, batch_id):
    """The multi-table sink pattern: commit only when the pre-state
    reader says the batch has not landed yet."""
    from ros_sql_spark.sources.snapshot import (
        snapshot_append_batch,
        snapshot_pre_state,
    )

    if snapshot_pre_state(spark, t, batch_id)[1]:
        return False
    return snapshot_append_batch(_df(spark, batch_id, batch_id + 5, "a"), t,
                                 batch_id)


def _batch_sinks():
    from ros_sql_spark.sources.snapshot import (
        snapshot_append_batch,
    )
    from ros_sql_spark.streaming import sketch as sk

    return {
        "append_batch": lambda sp, t, b: snapshot_append_batch(
            _df(sp, b, b + 5, "a"), t, b
        ),
        "fold_kmv": lambda sp, t, b: sk.kmv_sketch_batch(
            _sketch_events(sp, b), b, t, "s", "key", 16
        ),
        "fold_cm": lambda sp, t, b: sk.cm_build_batch(
            _sketch_events(sp, b), b, t, "key", 2, 16
        ),
        "fold_quantile": lambda sp, t, b: sk.quantile_sketch_batch(
            _sketch_events(sp, b), b, t, "s", "v", "key", 16
        ),
        "fold_topk": lambda sp, t, b: sk.topk_sketch_batch(
            _sketch_events(sp, b), b, t, "s", "v", 4
        ),
        "pre_state": _pre_state_guarded_append,
    }


@pytest.mark.parametrize("head_shape", ["last_batch", "tag_only"])
@pytest.mark.parametrize("sink", list(_batch_sinks()))
def test_every_batch_sink_skips_covered_replay(spark, tmp_path, sink,
                                               head_shape):
    """Every exactly-once sink reads the watermark through the one
    committed-batch reader: a stale replay (batch 8) is skipped on a head
    whose ``last_batch`` covers it AND on a head that carries only a
    ``batch:9`` tag (manifests from before ``last_batch`` existed) —
    no commit, no new version.  A newer batch still commits."""
    from ros_sql_spark.sources.snapshot import (
        _publish_manifest,
        _read_manifest,
    )

    run = _batch_sinks()[sink]
    t = str(tmp_path / "tbl")
    assert run(spark, t, 0)  # creates the table
    v = snapshot_versions(spark, t)[-1]
    head = dict(_read_manifest(spark, t, v), version=v + 1)
    if head_shape == "last_batch":
        head["last_batch"] = 9
        head.pop("tag", None)
    else:
        head["tag"] = "batch:9"
        head.pop("last_batch", None)
    _publish_manifest(spark, t, v + 1, head)

    assert not run(spark, t, 8), (sink, head_shape)
    assert not run(spark, t, 9), (sink, head_shape)
    assert snapshot_versions(spark, t)[-1] == v + 1
    assert run(spark, t, 10), (sink, head_shape)
    m = _read_manifest(spark, t, snapshot_versions(spark, t)[-1])
    assert m["last_batch"] == 10, m


def test_batch_watermark_has_one_owner():
    """The batch watermark has ONE owner, sources/snapshot.py: no other
    product module names the manifest's ``"last_batch"`` or
    ``"writer_batches"`` key or parses a ``batch:<id>`` tag (writing one
    with an f-string is fine), and no streaming module imports a private
    snapshot name."""
    import ast
    import pathlib

    import ros_sql_spark

    root = pathlib.Path(ros_sql_spark.__file__).parent
    owner = root / "sources" / "snapshot.py"
    bad = []
    for path in sorted(root.rglob("*.py")):
        if path == owner:
            continue
        tree = ast.parse(path.read_text())
        fstring_parts = {
            id(v)
            for n in ast.walk(tree)
            if isinstance(n, ast.JoinedStr)
            for v in n.values
        }
        rel = path.relative_to(root)
        for n in ast.walk(tree):
            if (
                isinstance(n, ast.Constant)
                and isinstance(n.value, str)
                and id(n) not in fstring_parts
                and (
                    n.value in ("last_batch", "writer_batches")
                    or n.value.startswith("batch:")
                )
            ):
                bad.append(f"{rel}:{n.lineno}: {n.value!r}")
            if (
                isinstance(n, ast.ImportFrom)
                and n.module == "ros_sql_spark.sources.snapshot"
                and rel.parts[0] == "streaming"
            ):
                bad += [
                    f"{rel}:{n.lineno}: imports {a.name}"
                    for a in n.names
                    if a.name.startswith("_")
                ]
    assert not bad, bad


def test_every_snapshot_export_has_a_product_caller():
    """Every public operation of sources/snapshot.py is reached by
    product code: each name in its ``__all__`` appears as a code token
    (a name, attribute or import, never only in a docstring) in some
    other module under ``ros_sql_spark/``.  Operations only tests call
    belong in ``tests/`` or nowhere.  Two kinds of export are exempt:
    ``snapshot_vacuum``, the garbage collector an operator runs by hand
    (``api.expire`` points to it), and exception classes, which the
    module exports because it raises them."""
    import ast
    import pathlib

    import ros_sql_spark

    root = pathlib.Path(ros_sql_spark.__file__).parent
    owner = root / "sources" / "snapshot.py"
    owner_tree = ast.parse(owner.read_text())
    (exports,) = [
        [e.value for e in n.value.elts]
        for n in owner_tree.body
        if isinstance(n, ast.Assign)
        and any(getattr(t, "id", None) == "__all__" for t in n.targets)
    ]
    raised = {
        n.exc.func.id
        for n in ast.walk(owner_tree)
        if isinstance(n, ast.Raise)
        and isinstance(n.exc, ast.Call)
        and isinstance(n.exc.func, ast.Name)
    }
    tokens: set[str] = set()
    for path in root.rglob("*.py"):
        if path == owner:
            continue
        for n in ast.walk(ast.parse(path.read_text())):
            if isinstance(n, ast.Name):
                tokens.add(n.id)
            elif isinstance(n, ast.Attribute):
                tokens.add(n.attr)
            elif isinstance(n, ast.alias):
                tokens.add(n.name)
    exempt = {"snapshot_vacuum"} | raised
    orphans = [e for e in exports if e not in tokens and e not in exempt]
    assert not orphans, f"exported with no product caller: {orphans}"
