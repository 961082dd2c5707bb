"""Shared streaming-sink plumbing.

One definition of the foreachBatch writer block (checkpoint + update
mode + optional availableNow trigger) — it was copy-pasted nine times
across the sinks (round-8 review) and any change to the sink contract
had to land in all of them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

__all__ = ["start_foreach_batch", "multiplicity_delta", "merged_multiplicities"]


def start_foreach_batch(
    stream: DataFrame,
    body,
    checkpoint_path: str,
    available_now: bool = True,
):
    """Start ``stream`` through a ``foreachBatch`` sink: the body owns
    delivery semantics (idempotency, watermark tags), this owns the
    writer wiring.  The output mode is always ``update``: it is
    declarative only for foreachBatch (the body sees every batch
    either way)."""
    writer = (
        stream.writeStream.foreachBatch(body)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def multiplicity_delta(
    pre,
    keyed,
    key_cols: list[str],
    broadcast_max_keys: int = 2_000_000,
    broadcast_max_bytes: int = 64 << 20,
    keyed_count: int | None = None,
):
    """Increment-probe join for KEYED-MULTIPLICITY state (round-13
    review: quality.py and profile.py carried line-for-line copies of
    this machinery, and a defensive-read fix had already been
    hand-propagated to one but not the other — one definition now).

    ``keyed``: this batch's per-key counts (key_cols..., _d).
    ``pre``: the pre-batch state table (key_cols..., n) or None.
    Returns (key_cols..., _d, _old) with _old = the stored
    multiplicity of exactly the increment-touched keys — the stored
    side is semi-reduced by BROADCASTING the touched keys before the
    join (the CLAUDE.md incremental-probe discipline: the state table
    is corpus-sized, the increment is not; without the hint a
    stats-less lazy frame can draw a sort-merge plan that shuffles
    the whole state every micro-batch).  The hint presumes a BOUNDED
    micro-batch; a backfill/bootstrap batch whose touched-key set
    exceeds ``broadcast_max_keys`` ROWS or ``broadcast_max_bytes``
    estimated key bytes (round-14 ADVICE: the row gate alone let ~2M
    multi-column string keys build a multi-hundred-MB broadcast)
    falls back to the un-hinted semi-join — slower per batch, but it
    cannot blow the driver/broadcast memory limit the way a forced
    multi-GB broadcast build would.

    ``keyed_count``: an UPPER BOUND on the touched-key count, when the
    caller already knows one (e.g. batch_rows × n_columns from a
    scalar aggregate it collected anyway).  Supplying it skips the
    bounded per-batch gating job this function otherwise runs
    (``keyed.limit(N)`` + a 2-scalar agg — one extra Spark job per
    micro-batch per monitor, r14 verdict #3); callers relying on that
    gating job should keep ``keyed`` lazily checkpointed so the gate
    and the probe share the materialization.  Eagerly checkpointed:
    every caller consumes the result in at least two SEPARATE actions
    (delta statistics + the merge commit), the several-actions pin
    rule."""
    import pyspark.sql.functions as F

    if pre is not None:
        touched = keyed.select(*key_cols)
        if keyed_count is not None:
            small = keyed_count < broadcast_max_keys
        else:
            # bounded gating job: limit pushes down, so the probe never
            # scans more than broadcast_max_keys rows; the byte gate is
            # a lower bound when the limit truncates, but then the row
            # gate already forces the fallback
            width = sum(
                (
                    F.coalesce(
                        F.octet_length(F.col(c).cast("string")), F.lit(0)
                    )
                    for c in key_cols
                ),
                F.lit(0),
            )
            probe = (
                keyed.limit(broadcast_max_keys)
                .agg(
                    F.count(F.lit(1)).alias("_r"),
                    F.coalesce(F.sum(width), F.lit(0)).alias("_b"),
                )
                .collect()[0]
            )
            small = (
                int(probe["_r"]) < broadcast_max_keys
                and int(probe["_b"]) < broadcast_max_bytes
            )
        if small:
            old = pre.join(F.broadcast(touched), key_cols, "left_semi")
        else:
            old = pre.join(touched, key_cols, "left_semi")
        joined = keyed.join(old, key_cols, "left").select(
            *key_cols,
            "_d",
            F.coalesce(F.col("n"), F.lit(0)).alias("_old"),
        )
    else:
        joined = keyed.select(
            *key_cols, "_d", F.lit(0).cast("bigint").alias("_old")
        )
    return joined.localCheckpoint(eager=True)


def merged_multiplicities(joined, key_cols: list[str]):
    """(key_cols..., n = _old + _d) — the merge rows every
    multiplicity consumer commits."""
    import pyspark.sql.functions as F

    return joined.select(
        *key_cols,
        (F.col("_old") + F.col("_d")).cast("bigint").alias("n"),
    )
