#!/usr/bin/env python3
"""rosql-spark benchmark: one workload per run, every metric by name.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root.  The run makes its inputs from the seed,
starts the engine session (``session.get_spark``) several times to time
set-up, checks every output outside the timed region, and repeats the
workload's operations for ``--seconds``.  All scratch files (inputs,
stores, checkpoints, Spark local dirs, ``derby.log``) live in a private
directory under ``.bench_work/`` of the checkout, removed at the end.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` runs the
workload untraced for half the time, then traced (Spark event log on, one
job group per span) in a fresh session for the other half, and reports
the per-layer metrics; the spans and the Spark work attributed to each
are written to ``.bench_out/``.  The last stdout line
is one JSON object ``{"correct", "attempted", "failed", "metrics"}``; the
line before it reports every figure the run measured.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 3  # session starts per run; setup_s is their median
HARD_CAP_S = 100  # start no operation after this much timed work

# Every per-layer metric, so that each traced run reports the same names.
# 0 means the workload does not exercise that layer.
PER_LAYER = {
    "session.start_s": "s",
    "session.warm_s": "s",
    "plans.build_s": "s",
    "plans.action_s": "s",
    "plans.relational_s": "s",
    "plans.iterative_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.tasks_per_stage": "count",
    "spark.failed_tasks": "count",
    "spark.driver_gap_s": "s",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.input_mb": "MB",
    "spark.core_busy_frac": "frac",
    "pins.left": "count",
    "jvm.peak_rss_mb": "MB",
    "streaming.record.batches": "count",
    "streaming.record.add_batch_s": "s",
    "streaming.record.query_planning_s": "s",
    "streaming.record.wal_commit_s": "s",
    "streaming.record.commit_offsets_s": "s",
    "streaming.record.latest_offset_s": "s",
    "streaming.record.trigger_s_p50": "s",
    "streaming.record.jobs_per_batch": "count",
    "streaming.record.msgs_per_s": "msg/s",
    "operators.normalize.tables_per_topic": "count",
    "sources.store.bytes_per_msg": "B/msg",
    "sources.store.files": "count",
    "api.playback.build_s": "s",
    "api.playback.emit_s": "s",
    "api.playback.shuffle_mb": "MB",
    "api.playback.stages": "count",
    "api.playback.msgs_per_s": "msg/s",
    "api.playback.window_s": "s",
    "sources.jdbc.batch_s_first": "s",
    "sources.jdbc.batch_s_last": "s",
    "sources.jdbc.db_bytes_per_msg": "B/msg",
    "sources.jdbc.msgs_per_s": "msg/s",
    "trace.overhead_frac": "frac",
}


def _env(work: str) -> None:
    """Keep every file Spark, Derby and Python write inside ``work``, and
    let Spark's Python workers import the package."""
    paths = [ROOT, os.environ.get("PYTHONPATH", "")]
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in paths if p)
    for var, sub in (("SPARK_LOCAL_DIRS", "local"), ("TMPDIR", "tmp")):
        os.environ[var] = os.path.join(work, sub)
        os.makedirs(os.environ[var])
    tempfile.tempdir = os.environ["TMPDIR"]
    # the JVM's temp files too, and no hsperfdata file under /tmp
    jvm_opts = f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
    os.environ["SPARK_SUBMIT_OPTS"] = f"{os.environ.get('SPARK_SUBMIT_OPTS', '')} {jvm_opts}"
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "3g")
    os.chdir(work)  # derby.log, metastore_db, spark-warehouse
    sys.path.insert(0, ROOT)


def _start(name: str):
    from ros_sql_spark.session import get_spark

    spark = get_spark(f"perfbench-{name}")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_jvm() -> None:
    """Stop the JVM the sessions ran in and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def _jvm_peak_rss_mb() -> float:
    from pyspark import SparkContext

    with open(f"/proc/{SparkContext._gateway.proc.pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM for the JVM")


def timed_loop(ops, seconds: float, res, whole_passes: bool) -> tuple[dict, int]:
    """Run the operations round-robin until ``seconds`` have elapsed and at
    least one whole pass is done; with ``whole_passes`` only stop at the
    end of a pass.  Returns per-operation samples and the number of
    operations run."""
    samples = {op.name: [] for op in ops}
    t_start = time.perf_counter()
    n = 0
    while True:
        elapsed = time.perf_counter() - t_start
        at_pass_end = n % len(ops) == 0
        done = n >= len(ops) and elapsed >= seconds
        if (done and (at_pass_end or not whole_passes)) or elapsed > HARD_CAP_S:
            break
        op = ops[n % len(ops)]
        t0 = time.perf_counter()
        try:
            op.fn()
            res.check(True, op.name)
        except Exception as exc:
            res.check(False, f"{op.name}: {type(exc).__name__}: {exc}"[:300])
        samples[op.name].append(time.perf_counter() - t0)
        n += 1
    return samples, n


def pass_wall(samples: dict) -> float:
    """The wall of one pass: the sum of the per-operation medians."""
    return sum(statistics.median(v) for v in samples.values())


def spark_layers(wl, spans, own, root, passes: int, log, cores: int) -> dict:
    """spark.* per pass of the traced loop, and the layer figures that
    need jobs attributed to spans."""
    import tracing

    w = tracing.span_work([root.id], spans, own, log)
    mb = 1024.0 * 1024.0
    out = {
        "spark.jobs": (w.jobs / passes, "count"),
        "spark.stages": (w.stages / passes, "count"),
        "spark.tasks": (w.work.tasks / passes, "count"),
        "spark.tasks_per_stage": (w.tasks_per_stage, "count"),
        "spark.failed_tasks": (w.work.failed_tasks / passes, "count"),
        "spark.driver_gap_s": ((root.duration - w.busy_s) / passes, "s"),
        "spark.executor_run_s": (w.work.run_s / passes, "s"),
        "spark.executor_cpu_s": (w.work.cpu_s / passes, "s"),
        "spark.shuffle_write_mb": (w.work.shuffle_write_b / mb / passes, "MB"),
        "spark.shuffle_read_mb": (w.work.shuffle_read_b / mb / passes, "MB"),
        "spark.spill_mb": (w.work.spill_b / mb / passes, "MB"),
        "spark.input_mb": (w.work.input_b / mb / passes, "MB"),
        "spark.core_busy_frac": (w.work.run_s / (root.duration * cores), "frac"),
    }
    records = [s.id for s in spans if s.attrs.get("sink") == "parquet"]
    batches = len(getattr(wl, "progress", {}).get("parquet", []))
    if records and batches:
        rw = tracing.span_work(records, spans, own, log)
        out["streaming.record.jobs_per_batch"] = (rw.jobs / batches, "count")
    full = [s for s in spans if s.name.startswith("api.playback") and not s.attrs["window"]]
    emits = [s for s in full if s.name == "api.playback.emit"]
    if emits:
        pw = tracing.span_work([s.id for s in full], spans, own, log)
        shuffle = pw.work.shuffle_write_b + pw.work.shuffle_read_b
        builds = [s for s in full if s.name == "api.playback.build"]
        out["api.playback.shuffle_mb"] = (shuffle / mb / len(emits), "MB")
        out["api.playback.stages"] = (pw.stages / len(emits), "count")
        out["api.playback.emit_s"] = (statistics.median(s.duration for s in emits), "s")
        out["api.playback.build_s"] = (statistics.median(s.duration for s in builds), "s")
    return out


def _write_spans(args, rows: list[dict]) -> None:
    out = os.path.join(ROOT, ".bench_out")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, f"spans_{args.workload}_seed{args.seed}.json"), "w") as f:
        json.dump(rows, f)


def _traced_session(name: str, log_dir: str):
    """A session with the event log on, through the unchanged get_spark."""
    from pyspark import SparkContext

    import tracing

    tracing.enable_event_log(SparkContext._jvm, log_dir)
    try:
        return _start(name)
    finally:
        tracing.disable_event_log(SparkContext._jvm)


def run(args, work: str):
    """Returns (the metrics to print, every figure measured, Result)."""
    import tracing
    import workloads

    phases, t_phase = {}, [time.perf_counter()]

    def phase(name: str) -> None:
        now = time.perf_counter()
        phases[f"phase.{name}_s"] = (now - t_phase[0], "s")
        t_phase[0] = now

    wl = workloads.WORKLOADS[args.workload]()
    wl.make_inputs(args.seed, work)
    phase("inputs")
    res = workloads.Result()
    starts, loads = [], []
    spark = None
    try:
        for _ in range(SETUPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = _start(args.workload)
            t1 = time.perf_counter()
            wl.load(spark)
            starts.append(t1 - t0)
            loads.append(time.perf_counter() - t1)
        phase("setup")
        setup = [a + b for a, b in zip(starts, loads)]
        figures = {
            "setup_s": (statistics.median(setup), "s"),
            "session.start_s": (statistics.median(starts), "s"),
            "session.warm_s": (statistics.median(loads), "s"),
        }
        wl.before(spark, tracing.Tracer(), res)
        phase("before")
        seconds = args.seconds / 2 if args.trace else args.seconds
        tracer_off = tracing.Tracer()  # spans without job groups: timing only
        samples, _ = timed_loop(wl.ops(spark, tracer_off), seconds, res, bool(args.trace))
        phase("timed")
        wl.after(spark, tracer_off, res)
        phase("after")
        e2e = {"setup_s": figures["setup_s"], "wall_s": (pass_wall(samples), "s")}
        figures.update(e2e)
        figures.update(wl.report(samples))
        figures.update(wl.layer_metrics())
        if not args.trace:
            figures.update(phases)
            return e2e, figures, res
        # the traced half runs second, in a fresh session, so the
        # overhead it shows is, if anything, too high
        log_dir = os.path.join(work, "eventlog")
        spark.stop()
        spark = _traced_session(args.workload, log_dir)
        wl.load(spark)
        wl.reset()
        tracer = tracing.Tracer(spark.sparkContext)
        ops = wl.ops(spark, tracer)
        with tracer.span("timed") as root:
            traced, n = timed_loop(ops, seconds, res, whole_passes=True)
        figures.update(wl.layer_metrics())
        figures["trace.overhead_frac"] = (pass_wall(traced) / pass_wall(samples) - 1, "frac")
        figures["pins.left"] = (spark.sparkContext._jsc.getPersistentRDDs().size(), "count")
        figures["jvm.peak_rss_mb"] = (_jvm_peak_rss_mb(), "MB")
        spark.stop()
        spark = None
        log = tracing.parse_event_log(tracing.find_event_log(log_dir))
        own = tracing.attribute(tracer.spans, log)
        cores = int(os.environ["SPARK_GRAFT_CPUS"])
        figures.update(spark_layers(wl, tracer.spans, own, root, n // len(ops), log, cores))
        _write_spans(args, tracing.span_rows(tracer.spans, own, log))
        phase("traced")
        figures.update(phases)
        return {k: figures.get(k, (0.0, u)) for k, u in PER_LAYER.items()}, figures, res
    finally:
        if spark is not None:
            spark.stop()
        _stop_jvm()


def _metrics(d: dict) -> dict:
    return {k: {"value": float(v), "unit": u} for k, (v, u) in d.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "ros_sql_spark", "__init__.py")):
        print(f"no ros_sql_spark package beside {HERE}: run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        _env(work)
        metrics, figures, res = run(args, work)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    failed = len(res.failures)
    figures["failed_ops_frac"] = (failed / res.attempted, "ratio")
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "figures": _metrics(figures), "failures": res.failures[:20]}))
    print(json.dumps({"correct": failed == 0, "attempted": res.attempted,
                      "failed": failed, "metrics": _metrics(metrics)}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
