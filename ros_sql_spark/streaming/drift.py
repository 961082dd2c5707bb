"""Continuous DRIFT monitor: the streaming twin of qx62's CUSUM
change-point query — per-day value sums maintained incrementally over
an append stream, the scaled statistic recomputed per batch from the
CALENDAR-bounded daily state.

Two different re-aggregation rules meet here, deliberately:
- the STATE MERGE follows the incremental-probe discipline (CLAUDE.md):
  old sums are fetched for exactly the increment-touched DAYS
  (semi-reduced before the join, key-range file-pruned by the merge
  machinery) — per-batch merge cost tracks the increment;
- the STATISTIC is recomputed over the whole daily table per batch —
  which is the right call, NOT a violation of the
  never-re-aggregate-state rule: that rule forbids O(corpus) passes,
  and the daily frame is O(calendar) (30 rows at sf0.01, ~10³ at a
  decade) — the qx36/qx58 exception class.  CUSUM is also inherently
  global (a new day shifts n and T, moving EVERY S'_t), so no
  increment-only update exists.

The statistic itself is operators/drift.py::cusum_scores — the SAME
code object qx62 runs, so stream == batch is structural (the
equivalence test in tests/test_drift.py closes the loop end-to-end).
One atomic snapshot_merge commit per batch (state + ``batch:<id>``
watermark + day-count/total counters in the manifest meta) — crash
recovery is the watermark check and nothing else.

Reference parity: strawlab/ros_sql has no monitoring tooling; this is
the engine-extension surface (SURVEY.md qx62 family) made continuous.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ros_sql_spark.functions.parity import money
from ros_sql_spark.operators.drift import cusum_scores
from ros_sql_spark.sources.snapshot import (
    snapshot_merge,
    snapshot_meta,
    snapshot_pre_state,
    snapshot_read,
)

__all__ = ["drift_ingest_batch", "drift_report_read", "drift_ingest_stream"]

_T_DAILY = "daily"
# fixed stored type: per-batch decimal sums widen with every addition
# (decimal(18,2) sum → (28,2); old+delta → +1 digit per merge), so the
# state column is pinned at a capacity the schema contract can keep
_S_TYPE = "decimal(30,2)"


def drift_ingest_batch(
    batch_df: DataFrame,
    batch_id: int,
    store: str,
    ts_col: str = "ts_ns",
    value_col: str = "value",
) -> int:
    """Fold one micro-batch's (day, Σvalue) into the daily state at
    ``store``; returns the running day count.  Idempotent under
    redelivery (the ``batch:<id>`` watermark on the single state
    commit); NULL values contribute nothing (SQL sum), NULL
    timestamps are dropped (no day to land on)."""
    spark = batch_df.sparkSession
    table = f"{store}/{_T_DAILY}"
    pre, done = snapshot_pre_state(spark, table, batch_id)
    if done:
        # defensive read (round-13 ADVICE): a head manifest written
        # outside this module may lack meta — a redelivered batch must
        # no-op, never raise
        return int((snapshot_meta(spark, table) or {}).get("n_days", 0))

    delta = (
        batch_df.filter(F.col(ts_col).isNotNull())
        .groupBy(
            F.expr(f"{ts_col} div 86400000000000").alias("day")
        )
        # coalesce: a day whose batch values are ALL NULL must store
        # s=0, not NULL — a NULL s re-counts as a "new day" on every
        # later touch and poisons the n_days counter (self-review fix)
        .agg(
            F.coalesce(
                F.sum(money(value_col)), F.lit(0)
            ).cast(_S_TYPE).alias("_d")
        )
        .localCheckpoint(eager=False)  # consumed by probe + merge
    )
    if pre is not None:
        # incremental-probe discipline: old sums of exactly the
        # touched days, stored side semi-reduced first (touched-day
        # keys BROADCAST — the state is calendar-bounded here, but the
        # hint keeps the rule mechanical across all three monitors)
        old = pre.join(
            F.broadcast(delta.select("day")), ["day"], "left_semi"
        )
        joined = delta.join(old, ["day"], "left").select(
            "day", "_d", F.col("s").alias("_old")
        )
    else:
        joined = delta.select(
            "day", "_d", F.lit(None).cast(_S_TYPE).alias("_old")
        )
    joined = joined.localCheckpoint(eager=True)  # merge rows + counters
    merged = joined.select(
        "day",
        (
            F.coalesce(F.col("_old"), F.lit(0).cast(_S_TYPE))
            + F.col("_d")
        ).cast(_S_TYPE).alias("s"),
    )
    # running counters from the INCREMENT alone (O(touched), the
    # docs-acct idiom): exact total as a string — JSON must not round
    from decimal import Decimal

    prev_meta = (
        (snapshot_meta(spark, table) or {}) if pre is not None else {}
    )
    inc = joined.agg(
        F.coalesce(
            F.sum(F.col("_old").isNull().cast("bigint")), F.lit(0)
        ).alias("_new_days"),
        F.sum("_d").alias("_sum_d"),
    ).collect()[0]
    n_days = int(prev_meta.get("n_days", 0)) + int(inc["_new_days"])
    total = Decimal(prev_meta.get("total", "0")) + (
        inc["_sum_d"] or Decimal(0)
    )
    snapshot_merge(
        merged,
        table,
        keys=["day"],
        tag=f"batch:{batch_id}",
        stats_cols=["day"],
        meta={
            "n_days": n_days,
            "total": str(total),
            "batch": batch_id,
        },
    )
    return n_days


def drift_report_read(
    spark: SparkSession, store: str, k: int = 3
) -> DataFrame:
    """Top-``k`` change-point candidates in qx62's exact shape
    (day, cusum, score) — recomputed from the calendar-bounded daily
    state with the SAME operator the batch query runs."""
    daily = (
        snapshot_read(spark, f"{store}/{_T_DAILY}")
        .select("day", F.col("s").alias("_x"))
        .localCheckpoint(eager=True)
    )
    return (
        cusum_scores(daily)
        .orderBy(F.desc("score"), F.asc("day"))
        .limit(k)
    )


def drift_ingest_stream(
    src: DataFrame,
    store: str,
    checkpoint_path: str,
    ts_col: str = "ts_ns",
    value_col: str = "value",
    available_now: bool = True,
):
    """Continuous monitoring: every micro-batch folds into the daily
    state via :func:`drift_ingest_batch`.  Returns the
    StreamingQuery."""

    def body(df: DataFrame, batch_id: int) -> None:
        drift_ingest_batch(df, batch_id, store, ts_col, value_col)

    from ros_sql_spark.streaming.util import start_foreach_batch

    return start_foreach_batch(src, body, checkpoint_path, available_now)
