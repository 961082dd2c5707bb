"""The benchmark's workloads: inputs, timed operations and output checks.

Every workload is a list of operations that make one *pass*.  The runner
repeats them until the run's time is up and reports medians per
operation.  Each operation calls a layer's public functions
(``plans.queries.QUERIES[...]`` plus its action, ``streaming.record``'s
recorders, ``api.playback``) inside spans of the tracer.

A workload's methods, in the order the runner calls them:

- ``make_inputs``: write the seeded inputs; the program sees only files;
- ``load``: the set-up's warm pass, reading every input once;
- ``before``: an untimed first pass that pays JIT and codegen; for the
  suite it is also the check pass;
- ``ops``: the timed operations of one pass;
- ``after``: checks of what the timed passes wrote.

Checks run outside the timed region:

- ``query_suite``: one repetition of every query, value-hashed against
  its DuckDB oracle (``plans.oracles.ORACLES``) on the same files;
- ``ros_record_replay``: full playback is field-exact against the
  generated messages in timestamp order, and every window replay equals
  the filtered input; after one recorded file is redelivered to the
  database, per-table row counts there equal the counts implied by the
  input.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import math
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import gen_ros
import gen_tables

# Relational shapes of a few jobs each: scan-aggregate, nested-child
# reassembly, grouping sets, joins, window frames, skew split, as-of
# join.  Bound by executors and shuffle.
SUITE_RELATIONAL = [
    "q11_pricing_summary",
    "q07_child_reassemble",
    "q13_grouping_sets",
    "q47_window_frames",
    "q98_skew_split_join",
    "q41_asof_join",
]
# Driver loops and multi-action pipelines of many small jobs: iterative
# components, PageRank, MinHash dedup.  Bound by job count, driver gap
# and pins.
SUITE_ITERATIVE = [
    "q15_dup_components",
    "qx29_pagerank",
    "q26_dedup_minhash",
]


@dataclass
class Op:
    name: str
    fn: object  # () -> None; raises on failure


@dataclass
class Result:
    """Operations attempted, and what failed (raised or a wrong output)."""

    attempted: int = 0
    failures: list[str] = field(default_factory=list)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failures.append(what)

    def guard(self, what: str, fn) -> None:
        """Run one checked operation; raising counts as failing it."""
        try:
            fn()
        except Exception as exc:
            self.check(False, f"{what}: {type(exc).__name__}: {exc}"[:300])


def median_of(samples: dict, key: str) -> float:
    return statistics.median(samples[key]) if samples.get(key) else 0.0


# ------------------------------------------------------------ canonical


def canon(v):
    """Canonical string for cross-engine value comparison (floats by
    their shortest repr, ints and floats kept distinct, NULL explicit)."""
    if v is None:
        return "<null>"
    if isinstance(v, bool):
        return f"b:{v}"
    if isinstance(v, decimal.Decimal):
        return f"dec:{v}"
    if isinstance(v, float):
        return "f:nan" if math.isnan(v) else f"f:{decimal.Decimal(repr(v)).normalize()}"
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, datetime.datetime):
        return f"ts:{v.isoformat()}"
    if isinstance(v, datetime.date):
        return f"dt:{v.isoformat()}"
    if isinstance(v, (bytes, bytearray)):
        return f"x:{bytes(v).hex()}"
    return f"s:{v}"


def value_hash(rows, columns) -> str:
    """Order-insensitive hash of canonicalized rows, columns by name."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x1f".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    h.update("\x1e".join(sorted(columns)).encode())
    for line in lines:
        h.update(line.encode() + b"\x1e")
    return h.hexdigest()


def plain(v):
    """A Spark Row / pyarrow value as plain, comparable Python data."""
    if hasattr(v, "asDict"):
        v = v.asDict(recursive=True)
    if isinstance(v, dict):
        return {k: plain(x) for k, x in v.items()}
    if isinstance(v, list):
        return [plain(x) for x in v]
    if isinstance(v, bytearray):
        return bytes(v)
    return v


def diff_messages(got: list, expected: list) -> str | None:
    """None when ``got`` equals ``expected`` field by field, in order."""
    if len(got) != len(expected):
        return f"{len(got)} rows, expected {len(expected)}"
    for i, (g, e) in enumerate(zip(got, expected)):
        g, e = plain(g), plain(e)
        if g != e:
            bad = sorted(k for k in e if g.get(k) != e[k])
            return f"row {i} (seq {e.get('seq')}) differs in {bad}"
    return None


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# ---------------------------------------------------------------- suites


class Suite:
    """Declared queries on seeded tables, each run to the noop sink.
    ``families`` names groups of queries whose time is also reported
    apart."""

    def __init__(self, families: dict[str, list[str]], scale: float):
        self.families = families
        self.queries = [q for qs in families.values() for q in qs]
        self.scale = scale
        self.samples: dict[str, list[float]] = {}

    def make_inputs(self, seed: int, work: str) -> None:
        self.sf_dir = os.path.join(work, "tables")
        gen_tables.write(gen_tables.generate(seed, self.scale), self.sf_dir)

    def load(self, spark) -> None:
        from ros_sql_spark.sources.io import load_table

        tables = {t: load_table(spark, self.sf_dir, t) for t in gen_tables.TABLES}
        tables["lineitem"].count()

    def _run(self, spark, tracer, q: str, action):
        from ros_sql_spark.plans.queries import QUERIES

        with tracer.span("plans.build", query=q):
            t0 = time.perf_counter()
            df = QUERIES[q](spark, self.sf_dir)
            t1 = time.perf_counter()
        with tracer.span("plans.action", query=q):
            out = action(df)
            t2 = time.perf_counter()
        # operator-owned caches ride on the result frame (as in bench.py)
        cached = getattr(df, "_rosql_cached", None)
        if cached is not None:
            cached.unpersist()
        self.samples.setdefault(f"build:{q}", []).append(t1 - t0)
        self.samples.setdefault(f"action:{q}", []).append(t2 - t1)
        return df.columns, out

    def before(self, spark, tracer, res: Result) -> None:
        """The cold repetition, collected and checked against DuckDB."""
        import duckdb

        from ros_sql_spark.plans.oracles import ORACLES

        con = duckdb.connect()
        try:
            for t in gen_tables.TABLES:
                path = os.path.join(self.sf_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            for q in self.queries:
                def one(q=q):
                    cols, rows = self._run(spark, tracer, q, lambda d: d.collect())
                    cur = con.execute(ORACLES[q])
                    expect = value_hash(cur.fetchall(), [d[0] for d in cur.description])
                    res.check(value_hash(rows, cols) == expect, f"{q}: value hash")

                res.guard(q, one)
        finally:
            con.close()
        self.samples.clear()

    def ops(self, spark, tracer) -> list[Op]:
        return [Op(q, lambda q=q: self._run(spark, tracer, q, _noop)) for q in self.queries]

    def after(self, spark, tracer, res: Result) -> None:
        pass

    def report(self, samples: dict) -> dict:
        return {}

    def reset(self) -> None:
        self.samples.clear()

    def layer_metrics(self) -> dict:
        """Sums over queries of the median build and action times."""
        med = lambda kind, qs: sum(median_of(self.samples, f"{kind}:{q}") for q in qs)
        out = {
            "plans.build_s": (med("build", self.queries), "s"),
            "plans.action_s": (med("action", self.queries), "s"),
        }
        for fam, qs in self.families.items():
            out[f"plans.{fam}_s"] = (med("build", qs) + med("action", qs), "s")
        return out


# ------------------------------------------------------------------- ros


class Ros:
    """Record pre-generated backlogs of nested messages (availableNow
    drains, one micro-batch per file: a closed loop) into the parquet
    store and replay them, and into embedded Derby through the JDBC sink
    and redeliver one file there."""

    def __init__(self, store: gen_ros.RosParams, jdbc: gen_ros.RosParams):
        self.params = {"parquet": store, "jdbc": jdbc}
        self.topics = gen_ros.topic_names(store.topics)
        self.samples: dict[str, list[float]] = {}
        self.progress: dict[str, list] = {"parquet": [], "jdbc": []}
        self.runs = 0
        self.last: dict[str, dict] = {}
        self.emitted: dict = {}  # (topic, is_window) -> rows of the last replay

    def make_inputs(self, seed: int, work: str) -> None:
        self.work = work
        self.backlog, self.expected = {}, {}
        for sink, p in self.params.items():
            table = gen_ros.generate(seed, p)
            src = os.path.join(work, f"backlog_{sink}")
            self.backlog[sink] = gen_ros.write_files(table, src, p.per_file)
            # expected messages per topic, in replay order (ts, then key)
            exp = {}
            for r in table.to_pylist():
                exp.setdefault(r.pop(gen_ros.TOPIC_COL), []).append(r)
            for msgs in exp.values():
                msgs.sort(key=lambda r: (r["ts_ns"], r["seq"]))
            self.expected[sink] = exp
        # one window per topic covering ~10% of it, placed by the seed
        n = self.params["parquet"].messages
        w = max(1, n // 10)
        self.windows = {}
        for i, t in enumerate(self.topics):
            lo = (seed * 7919 + i * 104729) % (n - w)
            ts = [r["ts_ns"] for r in self.expected["parquet"][t]]
            self.windows[t] = (ts[lo], ts[lo + w])

    def load(self, spark) -> None:
        df = spark.read.parquet(os.path.dirname(self.backlog["parquet"][0]))
        self.stream_schema = df.schema
        df.count()

    def _declare(self, store: str) -> None:
        from pyspark.sql import types as T

        from ros_sql_spark.streaming.record import declare_topics

        schema = T.StructType(
            [f for f in self.stream_schema.fields if f.name != gen_ros.TOPIC_COL]
        )
        declare_topics(store, {t: schema for t in self.topics}, gen_ros.KEY_COLS)

    def _record(self, spark, tracer, sink: str, src: str, tag: str, url=None) -> dict:
        """One recorder run over the files in ``src``, from a fresh checkpoint."""
        from ros_sql_spark.sources.jdbc import DERBY_DRIVER
        from ros_sql_spark.streaming.record import record_stream, record_stream_jdbc

        store = os.path.join(self.work, f"store_{tag}")
        ck = os.path.join(self.work, f"ck_{tag}")
        stream = (
            spark.readStream.schema(self.stream_schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        with tracer.span("streaming.record", sink=sink):
            t0 = time.perf_counter()
            if not os.path.exists(store):
                self._declare(store)
            if sink == "jdbc":
                q = record_stream_jdbc(
                    stream, gen_ros.TOPIC_COL, store, ck, url, driver=DERBY_DRIVER
                )
            else:
                q = record_stream(stream, gen_ros.TOPIC_COL, store, gen_ros.KEY_COLS, ck)
            q.awaitTermination()
            wall = time.perf_counter() - t0
        if q.exception() is not None:
            raise RuntimeError(f"record query failed: {q.exception()}")
        progress = [p for p in q.recentProgress if p.numInputRows > 0]
        rows = sum(p.numInputRows for p in progress)
        return {"store": store, "wall": wall, "progress": progress, "rows": rows}

    def _record_fresh(self, spark, tracer, sink: str, src: str) -> dict:
        """Record into a new store (or database); drop the previous one."""
        from ros_sql_spark.sources.jdbc import derby_url

        old = self.last.get(sink)
        if old:
            shutil.rmtree(old["store"], ignore_errors=True)
            if old["db"]:
                shutil.rmtree(old["db"], ignore_errors=True)
        self.runs += 1
        tag = f"{sink}{self.runs}"
        db = os.path.join(self.work, f"db_{tag}") if sink == "jdbc" else None
        url = derby_url(db) if db else None
        r = self._record(spark, tracer, sink, src, tag, url)
        self.last[sink] = {"store": r["store"], "db": db, "url": url, "tag": tag}
        return r

    def _emit(self, spark, tracer, topic, window=None) -> None:
        """Replay one topic (or a window of it) to the driver, in order."""
        from ros_sql_spark.api import playback

        t0 = time.perf_counter()
        lo, hi = window or (None, None)
        with tracer.span("api.playback.build", topic=topic, window=bool(window)):
            df = playback(spark, self.last["parquet"]["store"], topic, lo, hi)
        with tracer.span("api.playback.emit", topic=topic, window=bool(window)):
            rows = df.collect()
        key = "window" if window else "playback_topic"
        self.samples.setdefault(key, []).append(time.perf_counter() - t0)
        self.emitted[(topic, bool(window))] = rows

    def before(self, spark, tracer, res: Result) -> None:
        """An untimed first cycle at full size: it pays JIT and codegen,
        so compilation does not run inside the timed cycle."""
        for op in self.ops(spark, tracer):
            op.fn()
        self.reset()

    def ops(self, spark, tracer) -> list[Op]:
        def record(sink):
            def fn():
                files = self.backlog[sink]
                r = self._record_fresh(spark, tracer, sink, os.path.dirname(files[0]))
                p = self.params[sink]
                n = p.topics * p.messages
                if r["rows"] != n or len(r["progress"]) != len(files):
                    raise RuntimeError(
                        f"{sink}: recorded {r['rows']} of {n} messages in "
                        f"{len(r['progress'])} of {len(files)} batches"
                    )
                self.samples.setdefault(f"rate_{sink}", []).append(r["rows"] / r["wall"])
                self.progress[sink].extend(r["progress"])

            return fn

        def playback():
            for t in self.topics:
                self._emit(spark, tracer, t)

        def windows():
            for t in self.topics:
                self._emit(spark, tracer, t, self.windows[t])

        return [
            Op("record", record("parquet")),
            Op("playback", playback),
            Op("window", windows),
            Op("record_jdbc", record("jdbc")),
        ]

    def after(self, spark, tracer, res: Result) -> None:
        self.check_replays(res)
        self.check_jdbc(spark, tracer, res)

    def check_replays(self, res: Result) -> None:
        """The latest replays equal the generated messages, in order."""
        expected = self.expected["parquet"]
        for t in self.topics:
            d = diff_messages(self.emitted[(t, False)], expected[t])
            res.check(d is None, f"playback {t}: {d}")
            lo, hi = self.windows[t]
            want = [r for r in expected[t] if lo <= r["ts_ns"] < hi]
            d = diff_messages(self.emitted[(t, True)], want)
            res.check(d is None and len(want) > 0, f"window {t}: {d}")

    def expected_counts(self) -> dict[str, int]:
        """Rows per normalized table implied by the JDBC backlog."""
        from ros_sql_spark.sources.catalog import namify

        out = {}
        for t, msgs in self.expected["jdbc"].items():
            base = namify(t)
            for child in ("", "__pose", "__pose__position", "__pose__orientation"):
                out[base + child] = len(msgs)
            out[f"{base}__ranges"] = sum(len(m["ranges"] or []) for m in msgs)
            out[f"{base}__points"] = sum(len(m["points"] or []) for m in msgs)
        return out

    def check_jdbc(self, spark, tracer, res: Result) -> None:
        """Redeliver one already-recorded file through a fresh checkpoint;
        then the latest database must hold exactly the input's rows."""
        from ros_sql_spark.sources.jdbc import DERBY_DRIVER, read_jdbc

        last = self.last["jdbc"]
        url = last["url"]

        def redeliver():
            src = os.path.join(self.work, f"redeliver_{last['tag']}")
            os.makedirs(src)
            shutil.copy(self.backlog["jdbc"][0], src)
            r = self._record(spark, tracer, "jdbc", src, f"{last['tag']}r", url)
            n = self.params["jdbc"].per_file
            res.check(r["rows"] == n, f"redelivered {r['rows']} of {n} messages")

        res.guard("redeliver", redeliver)
        for table, n in sorted(self.expected_counts().items()):
            def one(table=table, n=n):
                got = read_jdbc(spark, url, f"rs_{table}", driver=DERBY_DRIVER).count()
                res.check(got == n, f"jdbc {table}: {got} rows, expected {n}")

            res.guard(f"jdbc {table}", one)

    def reset(self) -> None:
        self.samples.clear()
        self.emitted.clear()
        for v in self.progress.values():
            v.clear()

    def report(self, samples: dict) -> dict:
        """The workload's own end-to-end figures."""
        p = self.params["parquet"]
        return {
            "record_msgs_per_s": (median_of(self.samples, "rate_parquet"), "msg/s"),
            "record_jdbc_msgs_per_s": (median_of(self.samples, "rate_jdbc"), "msg/s"),
            "playback_msgs_per_s": (
                p.topics * p.messages / median_of(samples, "playback"), "msg/s"),
            "window_playback_s": (median_of(self.samples, "window"), "s"),
        }

    def layer_metrics(self) -> dict:
        from ros_sql_spark.api import CATALOG_FILE
        from ros_sql_spark.sources.catalog import EngineCatalog

        prog = self.progress["parquet"]
        cycles = max(1, len(self.samples.get("rate_parquet", [])))
        dur = lambda ps, key: [q.durationMs.get(key, 0) / 1000.0 for q in ps]
        per_cycle = lambda key: sum(dur(prog, key)) / cycles
        out = {
            "streaming.record.batches": (len(prog) / cycles, "count"),
            "streaming.record.add_batch_s": (per_cycle("addBatch"), "s"),
            "streaming.record.query_planning_s": (per_cycle("queryPlanning"), "s"),
            "streaming.record.wal_commit_s": (per_cycle("walCommit"), "s"),
            "streaming.record.commit_offsets_s": (per_cycle("commitOffsets"), "s"),
            "streaming.record.latest_offset_s": (per_cycle("latestOffset"), "s"),
            "streaming.record.trigger_s_p50": (
                statistics.median(dur(prog, "triggerExecution")) if prog else 0.0, "s"),
            "streaming.record.msgs_per_s": (median_of(self.samples, "rate_parquet"), "msg/s"),
        }
        store = self.last["parquet"]["store"]
        entry = EngineCatalog.load(os.path.join(store, CATALOG_FILE)).topics[self.topics[0]]
        out["operators.normalize.tables_per_topic"] = (1 + len(entry.children), "count")
        n_msgs = self.params["parquet"].topics * self.params["parquet"].messages
        nbytes, nfiles = _du(store, suffix=".parquet")
        out["sources.store.bytes_per_msg"] = (nbytes / n_msgs, "B/msg")
        out["sources.store.files"] = (nfiles, "count")
        play = median_of(self.samples, "playback_topic")
        out["api.playback.msgs_per_s"] = (
            self.params["parquet"].messages / play if play else 0.0, "msg/s")
        out["api.playback.window_s"] = (median_of(self.samples, "window"), "s")
        # the JDBC sink: the first and last batch of each recorded backlog
        jprog = self.progress["jdbc"]
        last_id = len(self.backlog["jdbc"]) - 1
        add = lambda i: [q.durationMs.get("addBatch", 0) / 1000.0 for q in jprog if q.batchId == i]
        if jprog:
            out["sources.jdbc.batch_s_first"] = (statistics.median(add(0)), "s")
            out["sources.jdbc.batch_s_last"] = (statistics.median(add(last_id)), "s")
        pj = self.params["jdbc"]
        db = self.last["jdbc"]["db"]
        out["sources.jdbc.db_bytes_per_msg"] = (_du(db)[0] / (pj.topics * pj.messages), "B/msg")
        out["sources.jdbc.msgs_per_s"] = (median_of(self.samples, "rate_jdbc"), "msg/s")
        return out


def _du(path: str, suffix: str | None = None) -> tuple[int, int]:
    """(bytes, files) under ``path``, counting files ending in ``suffix``."""
    nbytes = nfiles = 0
    for root, _, names in os.walk(path):
        for n in names:
            if suffix is None or n.endswith(suffix):
                nbytes += os.path.getsize(os.path.join(root, n))
                nfiles += 1
    return nbytes, nfiles


WORKLOADS = {
    "ros_record_replay": lambda: Ros(
        store=gen_ros.RosParams(topics=2, messages=150, per_file=150),
        jdbc=gen_ros.RosParams(topics=1, messages=100, per_file=50),
    ),
    "query_suite": lambda: Suite(
        {"relational": SUITE_RELATIONAL, "iterative": SUITE_ITERATIVE}, scale=0.01
    ),
}
