"""record/playback workflow tests (reference entry points, SURVEY.md §3)."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from ros_sql_spark.api import CATALOG_FILE, playback, record
from ros_sql_spark.sources.io import load_table
from tests.conftest import SF_SMALL
from tests.test_roundtrip import F3_SCHEMA, _f3_rows


def test_record_playback_events(spark, tmp_path):
    store = str(tmp_path / "store")
    ev = load_table(spark, SF_SMALL, "events")
    record(spark, {"/events": ev}, store, key_cols=["event_id"], ts_col="ts_ns")
    assert os.path.exists(os.path.join(store, CATALOG_FILE))

    back = playback(spark, store, "/events")
    rows = back.collect()
    assert len(rows) == 1000
    assert back.schema == ev.schema
    # record-time order (R13): ns-exact, monotonically nondecreasing
    ts = [r.ts_ns for r in rows]
    assert ts == sorted(ts)


def test_playback_time_range(spark, tmp_path):
    store = str(tmp_path / "store")
    ev = load_table(spark, SF_SMALL, "events")
    record(spark, {"/events": ev}, store, key_cols=["event_id"], ts_col="ts_ns")
    lo = 1_704_400_000_000_000_000
    hi = 1_704_900_000_000_000_000
    got = playback(spark, store, "/events", t0_ns=lo, t1_ns=hi).collect()
    expect = ev.filter((F.col("ts_ns") >= lo) & (F.col("ts_ns") < hi)).count()
    assert len(got) == expect > 0
    assert all(lo <= r.ts_ns < hi for r in got)


def test_record_playback_nested_topic(spark, tmp_path):
    """Array-of-struct topic roundtrips through the on-disk store, which
    holds one nested table per topic; the relational child tables stay
    available as views equal to normalize's."""
    from ros_sql_spark.api import tables
    from ros_sql_spark.operators.normalize import normalize

    store = str(tmp_path / "store")
    df = spark.createDataFrame(_f3_rows(60), F3_SCHEMA)
    record(spark, {"/viz/marker": df}, store, key_cols=["topic", "seq"], ts_col=None)
    # nested layout on disk: one table directory per topic
    base = os.path.join(store, "viz__marker")
    assert os.listdir(base) == ["viz__marker"]
    back = playback(spark, store, "/viz/marker")
    left = sorted(map(repr, (r.asDict(recursive=True) for r in df.collect())))
    right = sorted(map(repr, (r.asDict(recursive=True) for r in back.collect())))
    assert left == right

    def hashed(t):
        return sorted(
            r[0] for r in t.select(F.hash(*t.columns).alias("h")).collect()
        )

    views = tables(spark, store, "/viz/marker")
    expect = normalize(df, ["topic", "seq"], table="viz__marker").tables
    assert {"viz__marker", "viz__marker__points", "viz__marker__colors"} <= set(views)
    assert set(views) == set(expect)
    for name, t in expect.items():
        assert views[name].columns == t.columns, name
        assert hashed(views[name]) == hashed(t), name


@pytest.mark.parametrize("version", [1, 2])
def test_playback_rejects_flat_layout_catalog(spark, tmp_path, version):
    """A store whose catalog says version 1 holds the flat normalized
    tables, and one that says version 2 bare parquet directories;
    playback must refuse either rather than misread it."""
    import json

    store = str(tmp_path / "store")
    ev = load_table(spark, SF_SMALL, "events")
    record(spark, {"/events": ev}, store, key_cols=["event_id"], ts_col="ts_ns")
    cat_path = os.path.join(store, CATALOG_FILE)
    with open(cat_path) as fh:
        doc = json.load(fh)
    doc["version"] = version
    with open(cat_path, "w") as fh:
        json.dump(doc, fh)
    with pytest.raises(
        ValueError, match=f"catalog schema version {version} is not supported"
    ):
        playback(spark, store, "/events")


def test_record_twice_then_expire(spark, tmp_path):
    """Two ``record`` calls append to one store: playback returns both
    recordings' messages, and ``expire`` drops the older recording's."""
    from ros_sql_spark.api import expire

    schema = "id long, ts_ns long, ranges array<double>"
    store = str(tmp_path / "store")
    for msgs in ([(1, 10, [1.0]), (2, 20, [])], [(3, 30, None), (4, 40, [2.0])]):
        record(
            spark, {"/scan": spark.createDataFrame(msgs, schema)}, store,
            key_cols=["id"],
        )
    got = [(r.id, r.ranges) for r in playback(spark, store, "/scan").collect()]
    assert got == [(1, [1.0]), (2, []), (3, None), (4, [2.0])]
    expire(spark, store, "/scan", 30)
    assert [r.id for r in playback(spark, store, "/scan").collect()] == [3, 4]


def test_playback_missing_store_dir_raises(spark, tmp_path):
    """A topic the catalog lists but whose table dir was deleted must
    raise a named error, not silently play back zero tables."""
    import shutil

    store = str(tmp_path / "store")
    ev = load_table(spark, SF_SMALL, "events")
    record(spark, {"/events": ev}, store, key_cols=["event_id"], ts_col="ts_ns")
    shutil.rmtree(os.path.join(store, "events"))
    with pytest.raises(FileNotFoundError, match="catalog"):
        playback(spark, store, "/events")


def test_record_redeclare_conflict(spark, tmp_path):
    store = str(tmp_path / "store")
    ev = load_table(spark, SF_SMALL, "events")
    record(spark, {"/e": ev}, store, key_cols=["event_id"])
    with pytest.raises(ValueError, match="different schema"):
        record(spark, {"/e": ev.drop("props")}, store, key_cols=["event_id"])


def test_record_default_keys_include_ts_col(spark, tmp_path):
    """The documented default — first column PLUS ts_col — must hold:
    dropping the timestamp made keys non-unique for repeated-entity
    topics and normalize's duplicate-key merge corrupted reassembly
    (round-8 review)."""
    from ros_sql_spark.api import CATALOG_FILE, record
    from ros_sql_spark.sources.catalog import EngineCatalog

    df = spark.createDataFrame(
        [(1, 10, [1.0]), (1, 20, [2.0]), (2, 10, [3.0])],
        "robot_id long, ts_ns long, pose array<double>",
    )
    store = str(tmp_path / "store")
    record(spark, {"/t": df}, store)
    cat = EngineCatalog.load(f"{store}/{CATALOG_FILE}")
    assert cat.topics["/t"].key_cols == ["robot_id", "ts_ns"]


def test_catalog_rejects_table_aliasing_and_changed_keys(spark, tmp_path):
    """Distinct topics mangling to ONE table name must be rejected
    (their rows would interleave in one store dir), and an idempotent
    re-declare must be an IDENTICAL re-declare — same schema with
    different keys misdescribes the stored data (round-8 review)."""
    import pytest

    from ros_sql_spark.sources.catalog import EngineCatalog
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("ts_ns", T.LongType()),
        ]
    )
    cat = EngineCatalog()
    cat.add_topic("/a-b", schema, key_cols=["id"], ts_col="ts_ns")
    with pytest.raises(ValueError, match="already used by topic"):
        cat.add_topic("/a_b", schema, key_cols=["id"], ts_col="ts_ns")
    with pytest.raises(ValueError, match="different key_cols"):
        cat.add_topic("/a-b", schema, key_cols=["id", "ts_ns"],
                      ts_col="ts_ns")
    # identical re-declare stays idempotent
    again = cat.add_topic("/a-b", schema, key_cols=["id"], ts_col="ts_ns")
    assert again.table == "a_b"
