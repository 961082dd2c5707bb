"""record_stream_jdbc's exactly-once contract on small in-test batches:
each test records a few dozen nested messages into its own embedded
Derby database, one micro-batch per recording session."""

from __future__ import annotations

import os
from types import SimpleNamespace

import pytest
from pyspark.sql import types as T

from ros_sql_spark.sources.jdbc import DERBY_DRIVER, derby_url, read_jdbc
from ros_sql_spark.streaming.record import declare_topics

_STREAM = (
    "topic string, id long, ts_ns long, "
    "pose struct<x: double, cov: array<int>>, tags array<struct<k: string, v: int>>"
)


def _message(i: int) -> tuple:
    return ("odom", i, 1000 + i, (i * 0.5, [i, i + 1]), [("a", i)])


def _expected(ids) -> dict[str, int]:
    """Rows per ``rs_`` table for one stored copy of each id."""
    n = len(set(ids))
    return {"odom": n, "odom__pose": n, "odom__pose__cov": 2 * n, "odom__tags": n}


@pytest.fixture
def recorder(spark, tmp_path):
    """``record(ids)`` runs one recording session whose single
    micro-batch holds the messages with these ids (repeats included),
    from a fresh checkpoint unless ``session`` names an earlier one to
    restart; ``counts()`` reads the rows per table back."""
    from ros_sql_spark.streaming.record import record_stream_jdbc

    schema = spark.createDataFrame([], _STREAM).schema
    store = str(tmp_path / "store")
    declare_topics(
        store,
        {"odom": T.StructType([f for f in schema.fields if f.name != "topic"])},
        ["id"],
    )
    db = derby_url(str(tmp_path / "db"))
    sessions = []

    def record(ids, session=None):
        if session is None:
            session = f"s{len(sessions)}"
            sessions.append(session)
        src = str(tmp_path / f"src_{session}")
        if not os.path.exists(src):
            rows = [_message(i) for i in ids]
            spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src)
        q = record_stream_jdbc(
            spark.readStream.schema(schema).parquet(src),
            topic_col="topic",
            store_path=store,
            checkpoint_path=str(tmp_path / f"ck_{session}"),
            url=db,
            driver=DERBY_DRIVER,
        )
        q.awaitTermination(180)
        assert not q.isActive
        return q

    def counts() -> dict[str, int]:
        return {
            t: read_jdbc(spark, db, f"rs_{t}", driver=DERBY_DRIVER).count()
            for t in _expected([])
        }

    return SimpleNamespace(record=record, counts=counts, db=db, schema=schema)


def test_second_session_with_new_keys_lands_every_row(recorder):
    recorder.record(range(1, 11))
    recorder.record(range(11, 21))
    assert recorder.counts() == _expected(range(1, 21))


def test_redelivery_straddling_batches_lands_exact_counts(recorder):
    """File A, then A and B as ONE batch from a fresh checkpoint."""
    recorder.record(range(1, 11))
    recorder.record(range(1, 21))
    assert recorder.counts() == _expected(range(1, 21))


def test_identical_messages_in_one_batch_land_once(recorder):
    """The batch with a repeated key still raises the mark to its
    largest key, so the next batch, starting at that key, dedups."""
    recorder.record(range(1, 6))
    recorder.record([6, 7, 7, 8])
    assert recorder.counts() == _expected(range(1, 9))
    recorder.record([8, 9])
    assert recorder.counts() == _expected(range(1, 10))


def test_database_written_without_high_water_mark(spark, recorder):
    """``rs_`` tables holding keys 1-100 written by plain appends (a
    database recorded before the high-water mark existed): recording
    keys 50-60, then keys 90-95, lands no duplicate."""
    from ros_sql_spark.operators.normalize import normalize
    from ros_sql_spark.sources.jdbc import write_jdbc

    old = spark.createDataFrame([_message(i) for i in range(1, 101)], recorder.schema)
    norm = normalize(old.drop("topic"), ["id"], table="odom")
    for name, tbl in norm.tables.items():
        write_jdbc(tbl, recorder.db, f"rs_{name}", driver=DERBY_DRIVER)
    assert recorder.counts() == _expected(range(1, 101))

    recorder.record(range(50, 61))
    recorder.record(range(90, 96))
    assert recorder.counts() == _expected(range(1, 101))


def test_batch_above_high_water_mark_reads_no_table(recorder, monkeypatch):
    """Steady state: a batch whose keys all lie above every stored key
    is appended as is — no JDBC read of the target tables and no key
    anti-join."""
    import ros_sql_spark.sources.jdbc as jdbc

    recorder.record(range(1, 11))
    calls = []
    for name in ("read_jdbc", "jdbc_idempotent_batch"):
        real = getattr(jdbc, name)

        def spy(*args, _real=real, _name=name, **kwargs):
            calls.append(_name)
            return _real(*args, **kwargs)

        monkeypatch.setattr(jdbc, name, spy)
    recorder.record(range(11, 21))
    assert calls == []
    monkeypatch.undo()
    assert recorder.counts() == _expected(range(1, 21))


def test_redelivery_after_one_table_failed_lands_exact_counts(recorder, monkeypatch):
    """A batch above the mark whose commit fails for ONE table (the other
    tables landed) fails the query; restarting from its checkpoint
    redelivers the batch, which then lands exact counts everywhere."""
    import ros_sql_spark.streaming.record as record

    recorder.record(range(1, 11))
    real = record._commit_table

    def failing(tbl, table, *args):
        if table == "rs_odom__tags":
            raise RuntimeError("injected commit failure")
        real(tbl, table, *args)

    monkeypatch.setattr(record, "_commit_table", failing)
    with pytest.raises(Exception, match="injected commit failure"):
        recorder.record(range(11, 21), session="crash")
    landed = recorder.counts()
    assert landed["odom"] == 20 and landed["odom__tags"] == 10

    monkeypatch.undo()
    q = recorder.record(range(11, 21), session="crash")
    assert q.exception() is None
    assert recorder.counts() == _expected(range(1, 21))


def test_high_water_mark_seeds_and_only_rises(spark, tmp_path):
    """The mark of a new topic starts below every key, then only rises.
    Tables recorded before marks existed seed it from the largest key in
    ANY of them and return None; string keys are not seeded."""
    from ros_sql_spark.sources.jdbc import jdbc_raise_high_water, write_jdbc

    def raise_to(db, tables, hi):
        return jdbc_raise_high_water(spark, db, tables, ["k"], hi, driver=DERBY_DRIVER)

    db = derby_url(str(tmp_path / "new"))
    assert raise_to(db, ["rs_a", "rs_a__c"], (5,)) == ()
    assert raise_to(db, ["rs_a", "rs_a__c"], (3,)) == (5,)
    assert raise_to(db, ["rs_a", "rs_a__c"], (9,)) == (5,)
    assert raise_to(db, ["rs_a", "rs_a__c"], (7,)) == (9,)
    assert raise_to(db, ["rs_b"], (1,)) == ()

    old = derby_url(str(tmp_path / "old"))
    write_jdbc(spark.createDataFrame([(1,), (4,)], "k long"), old, "rs_a", driver=DERBY_DRIVER)
    write_jdbc(spark.createDataFrame([(8,), (None,)], "k long"), old, "rs_a__c", driver=DERBY_DRIVER)
    write_jdbc(spark.createDataFrame([("x",)], "k string"), old, "rs_s", driver=DERBY_DRIVER)
    assert raise_to(old, ["rs_a", "rs_a__c"], (2,)) is None
    assert raise_to(old, ["rs_a", "rs_a__c"], (3,)) == (8,)
    assert raise_to(old, ["rs_s"], ("z",)) is None
    assert raise_to(old, ["rs_s"], ("zz",)) is None
