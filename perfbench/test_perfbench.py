"""The benchmark's own tests: generators, output checks, event-log parser.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import copy
import json
import os

import pytest

import gen_ros
import gen_tables
import run
import tracing
import workloads

SMALL = gen_ros.RosParams(topics=2, messages=40, per_file=25)


def test_ros_generator_is_deterministic_per_seed(tmp_path):
    a, b, c = (gen_ros.generate(s, SMALL) for s in (5, 5, 6))
    assert a.equals(b)
    assert not a.equals(c)
    pa_files = gen_ros.write_files(a, str(tmp_path / "a"), SMALL.per_file)
    pb_files = gen_ros.write_files(b, str(tmp_path / "b"), SMALL.per_file)
    assert len(pa_files) == 4  # 80 messages, 25 per file
    for x, y in zip(pa_files, pb_files):
        assert open(x, "rb").read() == open(y, "rb").read()


def test_ros_generator_covers_edge_cases():
    rows = gen_ros.generate(1, gen_ros.RosParams(topics=1, messages=400)).to_pylist()
    for field in ("ranges", "points"):
        assert any(r[field] is None for r in rows)
        assert any(r[field] == [] for r in rows)
    assert any(r["ts_ns"] % 1000 for r in rows)  # sub-microsecond stamps
    assert all(r["stamp_secs"] * 10**9 + r["stamp_nsecs"] == r["ts_ns"] for r in rows)
    blob_lens = {len(r["raw"]) for r in rows}
    assert max(blob_lens) <= gen_ros.RosParams().blob_bytes and len(blob_lens) > 10


def test_table_generator_is_deterministic_per_seed():
    a, b, c = (gen_tables.generate(s, 0.001) for s in (3, 3, 4))
    assert sorted(a) == sorted(gen_tables.TABLES)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])


def _ros_with_replay(tmp_path):
    wl = workloads.Ros(store=SMALL, jdbc=SMALL)
    wl.make_inputs(9, str(tmp_path))
    for t in wl.topics:
        lo, hi = wl.windows[t]
        wl.emitted[(t, False)] = copy.deepcopy(wl.expected["parquet"][t])
        wl.emitted[(t, True)] = [r for r in wl.expected["parquet"][t] if lo <= r["ts_ns"] < hi]
    return wl


def test_exact_playback_passes_the_check(tmp_path):
    wl = _ros_with_replay(tmp_path)
    res = workloads.Result()
    wl.check_replays(res)
    assert res.attempted == 2 * SMALL.topics and res.failures == []


@pytest.mark.parametrize(
    "corrupt",
    [
        lambda rows: rows[3].update(stamp_nsecs=rows[3]["stamp_nsecs"] + 1),
        lambda rows: rows[5]["pose"]["orientation"].update(w=0.5),
        lambda rows: rows.insert(0, rows.pop(1)),  # out of ts order
        lambda rows: rows.pop(),
    ],
)
def test_corrupted_playback_row_fails_the_check(tmp_path, corrupt):
    wl = _ros_with_replay(tmp_path)
    corrupt(wl.emitted[(wl.topics[1], False)])
    res = workloads.Result()
    wl.check_replays(res)
    assert len(res.failures) == 1 and res.failures[0].startswith("playback")


def test_null_and_empty_arrays_are_told_apart(tmp_path):
    wl = _ros_with_replay(tmp_path)
    rows = wl.emitted[(wl.topics[0], False)]
    i = next(i for i, r in enumerate(rows) if r["ranges"] is None)
    rows[i]["ranges"] = []
    assert workloads.diff_messages(rows, wl.expected["parquet"][wl.topics[0]]) is not None


def test_value_hash_is_order_insensitive_and_type_strict():
    rows = [(1, "a", 2.5), (2, None, 0.1)]
    h = workloads.value_hash(rows, ["k", "s", "v"])
    assert workloads.value_hash(rows[::-1], ["k", "s", "v"]) == h
    assert workloads.value_hash([(1, "a", 2.5), (2, None, 0.2)], ["k", "s", "v"]) != h
    assert workloads.value_hash([(1.0, "a", 2.5), (2, None, 0.1)], ["k", "s", "v"]) != h


def test_benchmark_json_names_what_the_runs_print():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert layer == run.PER_LAYER
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == {
        "setup_s": "s", "wall_s": "s"
    }
    assert run.pass_wall({"a": [1.0, 2.0, 3.0], "b": [4.0]}) == pytest.approx(6.0)


def test_self_time_subtracts_children():
    spans = [
        tracing.Span(0, None, "root", 0.0, 10.0),
        tracing.Span(1, 0, "a", 1.0, 4.0),
        tracing.Span(2, 0, "b", 3.0, 6.0),
        tracing.Span(3, 1, "a.child", 1.0, 2.0),
    ]
    assert tracing.self_time(spans[0], spans) == pytest.approx(5.0)
    assert tracing.self_time(spans[1], spans) == pytest.approx(2.0)


@pytest.fixture(scope="module")
def traced_spark(tmp_path_factory):
    """A small session with the event log on, built the way run.py does."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    log_dir = str(tmp_path_factory.mktemp("eventlog"))
    builder = SparkSession.builder.master("local[2]").config("spark.ui.enabled", "false")
    probe = builder.getOrCreate()  # starts the JVM the properties go to
    probe.stop()
    tracing.enable_event_log(SparkContext._jvm, log_dir)
    spark = builder.getOrCreate()
    tracing.disable_event_log(SparkContext._jvm)
    spark.sparkContext.setLogLevel("ERROR")
    yield spark, log_dir
    spark.stop()


def test_event_log_parser_attributes_known_jobs(traced_spark):
    spark, log_dir = traced_spark
    sc = spark.sparkContext
    tracer = tracing.Tracer(sc)
    with tracer.span("root") as root:
        with tracer.span("one_job") as one:
            assert sc.parallelize(range(10), 2).count() == 10
        with tracer.span("shuffle") as shuf:
            pairs = sc.parallelize(range(100), 4).map(lambda x: (x % 3, 1))
            assert len(pairs.reduceByKey(lambda a, b: a + b, 2).collect()) == 3
    spark.stop()
    log = tracing.parse_event_log(tracing.find_event_log(log_dir))
    own = tracing.attribute(tracer.spans, log)
    w1 = tracing.span_work([one.id], tracer.spans, own, log)
    assert (w1.jobs, w1.stages, w1.work.tasks) == (1, 1, 2)
    assert w1.work.shuffle_write_b == 0
    w2 = tracing.span_work([shuf.id], tracer.spans, own, log)
    assert (w2.jobs, w2.stages, w2.work.tasks) == (1, 2, 6)
    assert w2.work.shuffle_write_b > 0 and w2.work.shuffle_read_b > 0
    wr = tracing.span_work([root.id], tracer.spans, own, log)
    assert wr.jobs == 2 and own[root.id] == []
    assert 0 < wr.busy_s < root.duration
    assert wr.work.failed_tasks == 0 and wr.failed_jobs == 0
    rows = {r["name"]: r for r in tracing.span_rows(tracer.spans, own, log)}
    assert rows["shuffle"]["jobs"] == 1 and rows["shuffle"]["shuffle_bytes"] > 0
    assert rows["root"]["jobs"] == 0
    assert rows["root"]["self_s"] == pytest.approx(
        root.duration - one.duration - shuf.duration, abs=1e-3
    )
