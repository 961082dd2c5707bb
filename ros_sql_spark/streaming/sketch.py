"""Continuous KMV sketching: mergeable distinct-count state on a stream.

The batch operator (operators/sketch.py) keeps the k smallest member
hashes per set; bottom-k sets MERGE (bottom-k of a union = bottom-k of
the concatenated sketches), which makes the streaming twin almost
free: each micro-batch sketches ITSELF, unions the stored sketch, and
re-ranks — O(sets · k) state regardless of how many distinct members
ever flowed, the bounded-state property every streaming cardinality
job needs (an exact streaming distinct-count's state grows without
bound).

Exactly-once: the merged sketch is a REPLACE, not an append, so every
``*_batch`` sink here commits through ``snapshot_fold_batch`` — the
read-merge-overwrite sink that owns the ``batch:<id>`` watermark
check and the OCC pin; a redelivered batch is skipped (re-merging
would be harmlessly idempotent for a KMV union, but would double-count
Count-Min and Misra–Gries counters and re-weight quantile samples).

Batch-equivalence (asserted in tests): after the stream drains, the
stored sketch — and every estimate derived from it — is IDENTICAL to
``kmv_sketch`` over the same rows in one batch, because bottom-k union
is associative and commutative over any micro-batch partition of the
input.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ros_sql_spark.operators.sketch import (
    _bottom_k_rows,
    bottom_k,
    cm_build,
    kmv_sketch,
    quantile_sketch,
)
from ros_sql_spark.sources.snapshot import snapshot_fold_batch, snapshot_read

__all__ = ["kmv_merge", "kmv_sketch_batch", "kmv_sketch_stream",
           "topk_merge", "topk_sketch_batch", "topk_sketch_stream",
           "kmv_sketch_read", "cm_merge", "cm_build_batch",
           "cm_build_stream", "quantile_merge", "quantile_sketch_batch",
           "quantile_sketch_stream"]


def kmv_merge(
    stored: DataFrame, fresh: DataFrame, set_col: str, k: int
) -> DataFrame:
    """Bottom-k of the union of two sketches — the KMV merge operator
    (inputs are ≤ k rows per set, so the window sort is bounded)."""
    u = stored.select(set_col, "h").unionByName(
        fresh.select(set_col, "h")
    ).distinct()
    return bottom_k(u, [set_col], k)


def kmv_sketch_batch(
    batch_df: DataFrame,
    batch_id: int,
    table: str,
    set_col: str,
    key_col: str,
    k: int,
) -> bool:
    """Merge one micro-batch into the stored sketch table, idempotently
    (``snapshot_fold_batch``: ``batch:<id>`` watermark, OCC-pinned
    overwrite).  Returns whether a commit happened."""
    fresh = kmv_sketch(batch_df, set_col, key_col, k)
    return snapshot_fold_batch(
        fresh, table, batch_id, lambda st, fr: kmv_merge(st, fr, set_col, k)
    )


def kmv_sketch_stream(
    events: DataFrame,
    table: str,
    checkpoint_path: str,
    set_col: str,
    key_col: str,
    k: int = 64,
    available_now: bool = True,
):
    """Continuous distinct-cardinality sketching: each micro-batch
    merges into the snapshot-backed sketch table (O(sets·k) rows
    forever); readers estimate with ``kmv_estimate``/``kmv_pair_overlap``
    at any moment under snapshot isolation.  Single writer per table,
    like every Structured Streaming sink.  Returns the StreamingQuery."""

    def body(df: DataFrame, batch_id: int) -> None:
        kmv_sketch_batch(df, batch_id, table, set_col, key_col, k)

    from ros_sql_spark.streaming.util import start_foreach_batch

    return start_foreach_batch(events, body, checkpoint_path, available_now)


def kmv_sketch_read(spark: SparkSession, table: str) -> DataFrame:
    """The current sketch (set_col, h) — feed to kmv_estimate/overlap."""
    return snapshot_read(spark, table)


def cm_merge(stored: DataFrame, fresh: DataFrame) -> DataFrame:
    """Count-Min merge: counters sum cell-wise — the (row, pos) grid is
    fixed by (depth, width), so merged state stays ≤ depth·width rows
    (the linearity that makes CM a streaming sketch)."""
    return (
        stored.unionByName(fresh)
        .groupBy("row", "pos")
        .agg(F.sum("c").alias("c"))
    )


def cm_build_batch(
    batch_df: DataFrame,
    batch_id: int,
    table: str,
    key_col: str,
    depth: int,
    width: int,
) -> bool:
    """Merge one micro-batch's counters into the stored Count-Min
    table, idempotently (``snapshot_fold_batch``, like
    :func:`kmv_sketch_batch` — a replayed batch would DOUBLE-COUNT if
    re-merged).  Returns whether a commit happened."""
    fresh = cm_build(batch_df, key_col, depth, width)
    return snapshot_fold_batch(fresh, table, batch_id, cm_merge)


def cm_build_stream(
    events: DataFrame,
    table: str,
    checkpoint_path: str,
    key_col: str,
    depth: int = 4,
    width: int = 256,
    available_now: bool = True,
):
    """Continuous frequency sketching: the stored counter table stays
    ≤ depth·width rows however much flows through; readers estimate
    any key's frequency at any moment with ``cm_estimate`` under
    snapshot isolation.  Because CM merge is a cell-wise SUM, the
    drained-stream counters equal the one-shot batch build exactly
    (asserted in tests).  Single writer per table.  Returns the
    StreamingQuery."""

    def body(df: DataFrame, batch_id: int) -> None:
        cm_build_batch(df, batch_id, table, key_col, depth, width)

    from ros_sql_spark.streaming.util import start_foreach_batch

    return start_foreach_batch(events, body, checkpoint_path, available_now)


def quantile_merge(
    stored: DataFrame, fresh: DataFrame, group_col: str, k: int
) -> DataFrame:
    """Bottom-k-rows of the union of two quantile sketches — inputs are
    ≤ k rows per group, so the (h, v) window sort is bounded.  No
    distinct(): the sample keys are row-unique across disjoint batches
    (the batch:<id> watermark guarantees a batch merges once)."""
    u = stored.select(group_col, "v", "h").unionByName(
        fresh.select(group_col, "v", "h")
    )
    return _bottom_k_rows(u, [group_col], k)


def quantile_sketch_batch(
    batch_df: DataFrame,
    batch_id: int,
    table: str,
    group_col: str,
    value_col: str,
    key_col: str,
    k: int,
) -> bool:
    """Merge one micro-batch into the stored quantile sketch,
    idempotently (``snapshot_fold_batch``, like
    :func:`kmv_sketch_batch`).  Returns whether a commit happened."""
    fresh = quantile_sketch(batch_df, group_col, value_col, key_col, k)
    return snapshot_fold_batch(
        fresh, table, batch_id,
        lambda st, fr: quantile_merge(st, fr, group_col, k),
    )


def quantile_sketch_stream(
    events: DataFrame,
    table: str,
    checkpoint_path: str,
    group_col: str,
    value_col: str,
    key_col: str,
    k: int = 256,
    available_now: bool = True,
):
    """Continuous quantile sketching: O(groups·k) state forever;
    readers estimate any percentile at any moment with
    ``quantile_estimate`` under snapshot isolation.  Bottom-k-by-hash
    is associative/commutative over any micro-batch partition of the
    input, so the drained-stream sketch equals the one-shot batch
    sketch row-for-row (asserted in tests).  Single writer per table.
    Returns the StreamingQuery."""

    def body(df: DataFrame, batch_id: int) -> None:
        quantile_sketch_batch(
            df, batch_id, table, group_col, value_col, key_col, k
        )

    from ros_sql_spark.streaming.util import start_foreach_batch

    return start_foreach_batch(events, body, checkpoint_path, available_now)


def topk_merge(
    stored: DataFrame,
    fresh: DataFrame,
    group_col: str,
    key_col: str,
    k: int,
) -> DataFrame:
    """Misra–Gries merge (Agarwal et al. 2012): add the two summaries'
    counters key-wise, add their per-group cumulative errors, and
    re-compress with the shared deterministic rule
    (operators/sketch.py::_mg_compress).  Inputs are ≤ k+1 rows per
    group, so every join/window here is bounded.  The per-group error
    rides the NULL-key sentinel rows, so a group whose counters all
    drained in one side still contributes its error — the full outer
    join of the per-side errors is what keeps later bounds sound."""
    from ros_sql_spark.operators.sketch import _mg_compress

    g = group_col
    e1 = stored.groupBy(g).agg(F.max("err").alias("_e1"))
    e2 = fresh.groupBy(g).agg(F.max("err").alias("_e2"))
    errs = e1.join(e2, g, "full").select(
        g,
        (
            F.coalesce(F.col("_e1"), F.lit(0))
            + F.coalesce(F.col("_e2"), F.lit(0))
        ).cast("bigint").alias("_err"),
    )
    counts = (
        stored.filter(F.col(key_col).isNotNull())
        .select(g, key_col, "c_low")
        .unionByName(
            fresh.filter(F.col(key_col).isNotNull())
            .select(g, key_col, "c_low")
        )
        .groupBy(g, key_col)
        .agg(F.sum("c_low").cast("bigint").alias("_c"))
    )
    # right join keeps sentinel-only groups alive (key/_c NULL → the
    # compress emits just their sentinel, carrying the summed error)
    combined = counts.join(errs, g, "right")
    return _mg_compress(combined, g, key_col, k)


def topk_sketch_batch(
    batch_df: DataFrame,
    batch_id: int,
    table: str,
    group_col: str,
    key_col: str,
    k: int,
) -> bool:
    """Merge one micro-batch's heavy-hitters summary into the stored
    sketch table, idempotently (``snapshot_fold_batch``, like
    :func:`kmv_sketch_batch` — a replayed batch would DOUBLE-COUNT
    survivors if re-merged).  Returns whether a commit happened."""
    from ros_sql_spark.operators.sketch import topk_sketch

    fresh = topk_sketch(batch_df, group_col, key_col, k)
    return snapshot_fold_batch(
        fresh, table, batch_id,
        lambda st, fr: topk_merge(st, fr, group_col, key_col, k),
    )


def topk_sketch_stream(
    events: DataFrame,
    table: str,
    checkpoint_path: str,
    group_col: str,
    key_col: str,
    k: int = 8,
    available_now: bool = True,
):
    """Continuous heavy-hitters tracking: O(groups·(k+1)) state forever
    however much flows through; readers get (key, c_low, err) bounds
    per group at any moment under snapshot isolation.  Unlike the
    bottom-k twins the drained-stream summary is NOT bit-identical to
    the one-shot batch sketch (Misra–Gries compresses per merge), but
    it is DETERMINISTIC given the batch partition — equal to the left
    fold of topk_merge over the per-batch sketches — and the
    ε-guarantee (true count within err ≤ N/(k+1) of c_low, every key
    above err present) holds across any merge tree (Agarwal et al.
    2012; asserted in tests).  Single writer per table.  Returns the
    StreamingQuery."""

    def body(df: DataFrame, batch_id: int) -> None:
        topk_sketch_batch(df, batch_id, table, group_col, key_col, k)

    from ros_sql_spark.streaming.util import start_foreach_batch

    return start_foreach_batch(events, body, checkpoint_path, available_now)
