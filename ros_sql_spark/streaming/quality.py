"""Continuous data-quality monitor: the streaming twin of the
qx53-class constraint report (plans/queries.py::qx53_data_quality) —
row-level checks, compound-key uniqueness and referential integrity
maintained incrementally over an append stream, with the SAME report
shape a batch run produces over the union of everything ingested.

Why a twin is non-trivial: row-level violation counts are trivially
mergeable (sums), but UNIQUENESS is a cross-batch property — a key
that arrives once in batch 0 and once in batch 7 is a violation no
per-batch check can see.  The monitor therefore keeps ONE state table,
``counts`` ((key columns..., n) — observed multiplicity per key), and
derives the uniqueness delta from the increment:

    Δdup = Σ_touched [(old_n + d_n − 1)⁺ − (old_n − 1)⁺]

which needs the OLD multiplicities of exactly the increment-touched
keys — fetched with the incremental-probe discipline (CLAUDE.md): the
stored table is key-range file-pruned by the merge machinery and
semi-reduced to touched keys before the join, so per-batch cost tracks
the INCREMENT, never the corpus.  The running counters (one BIGINT per
constraint) ride the counts manifest's ``meta`` — state mutation and
counter update land in ONE atomic snapshot_merge commit, so crash
recovery is the watermark check and nothing else: a batch either fully
happened or didn't (no multi-table seam, unlike curate's ledger).

Semantics (documented divergences from a from-scratch batch run):
- NULL-keyed rows are EXCLUDED from uniqueness (SQL UNIQUE semantics;
  express not-null expectations as row checks).
- The FK check scores each batch against the reference keyset AT
  ARRIVAL — a key that becomes valid later (late-arriving dimension
  row) stays counted; batch == stream exactly when the reference is
  fixed, the regime the equivalence test constructs.

Reference parity: strawlab/ros_sql has no quality tooling; this is the
engine-extension surface (SURVEY.md qx53 family) made continuous.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession

from ros_sql_spark.sources.snapshot import (
    snapshot_merge,
    snapshot_meta,
    snapshot_pre_state,
    snapshot_read,
)
from ros_sql_spark.streaming.util import (
    merged_multiplicities,
    multiplicity_delta,
)

__all__ = [
    "quality_ingest_batch",
    "quality_report_read",
    "quality_ingest_stream",
]

_T_COUNTS = "counts"


def _unique_name(key_cols: list[str]) -> str:
    return "_".join(key_cols) + "_unique"


def quality_ingest_batch(
    batch_df: DataFrame,
    batch_id: int,
    store: str,
    key_cols: list[str],
    row_checks: dict[str, Column],
    fk: tuple[str, DataFrame] | None = None,
) -> dict:
    """Fold one micro-batch into the quality state at ``store``.

    ``row_checks``: {constraint name → violation predicate Column}
    (True = the row violates).  ``fk``: (column, reference keyset
    DataFrame with that column) — violations are non-null values
    absent from the reference.  Returns the running report as a dict
    {constraint: n_violations}.  Idempotent under redelivery (the
    ``batch:<id>`` watermark on the single state commit).
    """
    spark = batch_df.sparkSession
    table = f"{store}/{_T_COUNTS}"
    pre, done = snapshot_pre_state(spark, table, batch_id)
    if done:
        # defensive read (the drift.py round-13 ADVICE precedent)
        return dict((snapshot_meta(spark, table) or {}).get("checks", {}))

    prev = (snapshot_meta(spark, table) or {}).get("checks", {}) if (
        pre is not None
    ) else {}
    checks = {k: int(v) for k, v in prev.items()}

    # --- row-level checks + FK: pure sums over THIS batch (one agg);
    # the FK flag joins the reference keyset at the row grain first
    probe = batch_df
    aggs = [
        F.coalesce(F.sum(pred.cast("bigint")), F.lit(0)).alias(f"_c_{name}")
        for name, pred in row_checks.items()
    ]
    if fk is not None:
        fk_col, ref = fk
        probe = batch_df.join(
            ref.select(F.col(fk_col).alias("_ref_k")).distinct(),
            F.col(fk_col) == F.col("_ref_k"),
            "left",
        )
        aggs.append(
            F.coalesce(
                F.sum(
                    (
                        F.col("_ref_k").isNull()
                        & F.col(fk_col).isNotNull()
                    ).cast("bigint")
                ),
                F.lit(0),
            ).alias("_c_fk")
        )
    aggs.append(F.count(F.lit(1)).alias("_n_rows"))
    row = probe.agg(*aggs).collect()[0]
    for name in row_checks:
        checks[name] = checks.get(name, 0) + int(row[f"_c_{name}"])
    if fk is not None:
        fkname = f"{fk[0]}_fk"
        checks[fkname] = checks.get(fkname, 0) + int(row["_c_fk"])
    checks["_n_rows"] = checks.get("_n_rows", 0) + int(row["_n_rows"])

    # --- uniqueness: increment-keyed delta against stored multiplicity
    uq = _unique_name(key_cols)
    keyed = (
        batch_df.select(*key_cols)
        .na.drop(subset=key_cols)  # UNIQUE ignores NULL keys
        .groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("_d"))
        .localCheckpoint(eager=False)  # consumed by probe + merge
    )
    # keyed_count: touched keys ≤ batch rows — the bound is already in
    # hand from the scalar-aggregate job above, so the delta probe
    # skips its per-batch gating job (r15 directive #4)
    joined = multiplicity_delta(
        pre, keyed, key_cols, keyed_count=int(row["_n_rows"])
    )
    pos = lambda c: F.greatest(c, F.lit(0))  # noqa: E731
    delta_row = joined.agg(
        F.coalesce(
            F.sum(
                pos(F.col("_old") + F.col("_d") - 1) - pos(F.col("_old") - 1)
            ),
            F.lit(0),
        ).alias("_dd")
    ).collect()[0]
    checks[uq] = checks.get(uq, 0) + int(delta_row["_dd"])

    new_rows = merged_multiplicities(joined, key_cols)
    # ONE atomic commit: merged multiplicities + running counters
    snapshot_merge(
        new_rows,
        table,
        keys=key_cols,
        tag=f"batch:{batch_id}",
        stats_cols=[key_cols[0]],
        meta={"checks": checks, "batch": batch_id},
    )
    return checks


def quality_report_read(spark: SparkSession, store: str) -> DataFrame:
    """The running report in qx53's shape: (constraint, n_violations,
    passed) — an O(1) manifest-meta read, no state scan."""
    checks = dict(snapshot_meta(spark, f"{store}/{_T_COUNTS}")["checks"])
    checks.pop("_n_rows", None)
    rows = [(k, int(v), int(v) == 0) for k, v in sorted(checks.items())]
    return spark.createDataFrame(
        rows, "constraint string, n_violations bigint, passed boolean"
    )


def quality_ingest_stream(
    src: DataFrame,
    store: str,
    checkpoint_path: str,
    key_cols: list[str],
    row_checks: dict[str, Column],
    fk: tuple[str, DataFrame] | None = None,
    available_now: bool = True,
):
    """Continuous monitoring: every micro-batch folds into the state
    via :func:`quality_ingest_batch`.  Returns the StreamingQuery."""

    def body(df: DataFrame, batch_id: int) -> None:
        quality_ingest_batch(
            df, batch_id, store, key_cols, row_checks, fk
        )

    from ros_sql_spark.streaming.util import start_foreach_batch

    return start_foreach_batch(src, body, checkpoint_path, available_now)
