"""Continuous COLUMN PROFILER: the streaming twin of the qx52-class
one-pass profile (plans/queries.py::qx52_column_profile) — per-column
null counts, numeric min/max and EXACT distinct counts maintained
incrementally over an append stream, with the SAME report shape a
batch run produces over the union of everything ingested (round-13
directive #4).

The split follows the quality monitor (streaming/quality.py, the
docs-acct idiom):

- TRIVIALLY MERGEABLE statistics — n_rows, per-column n_null, numeric
  min/max — are one aggregate over THIS batch folded into running
  counters that ride the state manifest's ``meta``: O(1) read per
  batch, never an O(corpus) re-aggregation.
- EXACT DISTINCT is the cross-batch property (a value seen in batch 0
  and batch 7 is ONE distinct value, which no per-batch count can
  know), so the monitor keeps ONE keyed-multiplicity state table
  ``values`` ((column, value-as-string) → n) and derives the delta
  from the increment alone: Δdistinct(col) = #{touched keys of col
  with old multiplicity 0}.  The stored side is semi-reduced to
  increment-touched keys BEFORE the join (the incremental-probe
  discipline) — per-batch cost tracks the INCREMENT, never the corpus.

State mutation and every counter land in ONE atomic snapshot_merge
commit (meta carried on the same manifest), so crash recovery is the
``batch:<id>`` watermark check and nothing else — a batch either fully
happened or didn't; a redelivered batch is a no-op returning the
running report.

Value canonicalization: the state key is the value CAST TO STRING
(one uniform state schema across profiled columns).  Spark's string
cast is injective on the profiled types (integers, decimals, strings,
dates; doubles render shortest-round-trip) EXCEPT for the signed
zero, where countDistinct's NormalizeFloatingNumbers treats -0.0 ==
0.0 but the cast renders two strings — numeric columns therefore
canonicalize with ``+ 0`` before the cast (IEEE: -0.0 + 0 == 0.0;
identity on integers/decimals; round-13 review + regression test).
String-keyed distinct == native distinct — the equivalence test
asserts exactly that against a from-scratch countDistinct at every
batch boundary.  NULLs are not values (countDistinct semantics): they
count into n_null, never into the state table.

Numeric precision contract (round-13 ADVICE, documented bound):
running min/max aggregate AS DOUBLE, so integer/decimal values with
magnitude > 2^53 round in the running profile exactly as they would in
qx52's double-typed report columns — the report shape this module
twins.  Callers needing exact extrema beyond 2^53 should profile such
columns through a dedicated exact pipeline, not this report.

QUANTILES (round-14, directive #6): pass ``quantile_key`` (a
row-unique, non-null id column) and every numeric column additionally
maintains a deterministic bottom-k value sample
(operators/sketch.py::quantile_sketch — md5-prefix rank over the key,
ties (h, v)-ordered).  Bottom-k MERGES exactly (bottom-k of a union ==
bottom-k of concatenated bottom-k's), so the running sample equals a
from-scratch batch sketch over everything ingested at every batch
boundary — asserted in tests — and it rides the SAME manifest meta as
the counters (≤ k (h, v) pairs per column, one atomic commit, O(1)
read; no second state table, no crash seam).
:func:`profile_quantiles_read` interpolates estimates from the sample
with bit-identical arithmetic to Spark's ``percentile()`` (the
operators/percentile.py formula).

Reference parity: strawlab/ros_sql has no profiling tooling; this is
the engine-extension surface (SURVEY qx52 family) made continuous.
"""

from __future__ import annotations

import re

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ros_sql_spark.sources.snapshot import (
    snapshot_merge,
    snapshot_meta,
    snapshot_pre_state,
)
from ros_sql_spark.streaming.util import (
    merged_multiplicities,
    multiplicity_delta,
)

__all__ = [
    "profile_ingest_batch",
    "profile_report_read",
    "profile_quantiles_read",
    "profile_quantiles_backfill",
    "profile_ingest_stream",
]

_T_VALUES = "values"

_IDENT = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def _check_idents(names) -> None:
    """Round-13 ADVICE: column names are interpolated into selectExpr
    (stack literals + backtick quoting) — a name containing a quote or
    backtick would break the parse or silently mislabel the state key,
    corrupting the distinct-count state.  Fail fast with a named error
    instead; plain identifiers are all the profiled tables use."""
    for c in names:
        if not _IDENT.match(c):
            raise ValueError(
                f"profiler column name {c!r} is not a plain identifier "
                "([A-Za-z_][A-Za-z0-9_]*) — rename/alias it upstream"
            )


def profile_ingest_batch(
    batch_df: DataFrame,
    batch_id: int,
    store: str,
    columns: dict[str, bool],
    quantile_key: str | None = None,
    quantile_k: int = 128,
) -> dict:
    """Fold one micro-batch into the profile state at ``store``.

    ``columns``: {column name → is_numeric} (numeric columns carry
    running min/max; the qx52 convention — string min/max is
    cross-engine parity quicksand and intentionally absent; min/max
    are double-typed — see the module precision contract).
    ``quantile_key``: optional row-unique non-null id column enabling
    the per-numeric-column bottom-k value sample (module docstring).
    Returns the running profile as {column: {n_null, n_distinct, min,
    max[, qsample]}} plus ``_n_rows``.  Idempotent under redelivery."""
    spark = batch_df.sparkSession
    _check_idents(
        list(columns) + ([quantile_key] if quantile_key else [])
    )
    table = f"{store}/{_T_VALUES}"
    pre, done = snapshot_pre_state(spark, table, batch_id)
    if done:
        # defensive read (the drift.py round-13 ADVICE precedent): a
        # head written outside this module may lack meta — a
        # redelivered batch must no-op, never raise
        return dict((snapshot_meta(spark, table) or {}).get("profile", {}))

    prev = (snapshot_meta(spark, table) or {}).get("profile", {}) if (
        pre is not None
    ) else {}
    prof: dict = {c: dict(prev.get(c, {})) for c in columns}
    n_rows = int(prev.get("_n_rows", 0))

    # --- mergeable scalars: ONE aggregate over this batch
    aggs = [F.count(F.lit(1)).alias("_n")]
    for c, numeric in columns.items():
        aggs.append(
            F.coalesce(
                F.sum(F.col(c).isNull().cast("bigint")), F.lit(0)
            ).alias(f"_nn_{c}")
        )
        if numeric:
            aggs.append(F.min(F.col(c).cast("double")).alias(f"_mn_{c}"))
            aggs.append(F.max(F.col(c).cast("double")).alias(f"_mx_{c}"))
    row = batch_df.agg(*aggs).collect()[0]
    n_rows += int(row["_n"])
    for c, numeric in columns.items():
        p = prof.setdefault(c, {})
        p["n_null"] = int(p.get("n_null", 0)) + int(row[f"_nn_{c}"])
        if numeric:
            for k, tag, fn in (("min", "_mn_", min), ("max", "_mx_", max)):
                batch_v = row[f"{tag}{c}"]
                if batch_v is not None:
                    old = p.get(k)
                    p[k] = (
                        float(batch_v)
                        if old is None
                        else float(fn(float(old), float(batch_v)))
                    )

    # --- exact distinct: keyed-multiplicity delta on the increment.
    # One scan melts every profiled column to (col, v) rows via stack
    # (bare stack of cheap casts — the explode/generate hazard is about
    # expensive exprs, CLAUDE.md), NULL values dropped (not values).
    # Numeric columns canonicalize with `+ 0` before the string cast:
    # -0.0 + 0 == 0.0 (IEEE), so the state key matches countDistinct's
    # NormalizeFloatingNumbers semantics (round-13 review — CAST alone
    # renders '0.0' and '-0.0' as two keys); `+ 0` is the identity on
    # integers/decimals.
    n = len(columns)
    stack_args = ", ".join(
        f"'{c}', CAST((`{c}` + 0) AS STRING)"
        if numeric
        else f"'{c}', CAST(`{c}` AS STRING)"
        for c, numeric in columns.items()
    )
    keyed = (
        batch_df.selectExpr(
            f"stack({n}, {stack_args}) AS (col, v)"
        )
        .filter(F.col("v").isNotNull())
        .groupBy("col", "v")
        .agg(F.count(F.lit(1)).alias("_d"))
        .localCheckpoint(eager=False)  # consumed by probe + merge
    )
    # keyed_count: touched (col, v) pairs ≤ batch_rows × n_columns —
    # an upper bound already in hand from the scalar-aggregate job
    # above, so the delta probe skips its per-batch gating job
    # (r15 directive #4: one fewer Spark job per micro-batch)
    joined = multiplicity_delta(
        pre, keyed, ["col", "v"],
        keyed_count=int(row["_n"]) * len(columns),
    )
    fresh = {
        r["col"]: int(r["_f"])
        for r in joined.filter(F.col("_old") == 0)
        .groupBy("col")
        .agg(F.count(F.lit(1)).alias("_f"))
        .collect()
    }
    for c in columns:
        p = prof.setdefault(c, {})
        p["n_distinct"] = int(p.get("n_distinct", 0)) + fresh.get(c, 0)

    # --- quantile sample (round-14): bottom-k (h, v) per numeric
    # column over THIS batch (distributed, salted two-phase), merged
    # driver-side with the ≤ k stored pairs — bottom-k of a union ==
    # bottom-k of concatenated bottom-k's, so the running sample
    # equals the from-scratch sketch exactly.  Rows enter once
    # (append stream + row-unique key; a redelivered batch no-ops at
    # the watermark above), so concatenation never duplicates a row.
    if quantile_key is None and prev.get("_quantile_k") is not None:
        # round-15 ADVICE: the mirror of the mid-stream ENABLE guard
        # below.  Ingesting without quantile_key into a store that
        # previously sampled would drop _quantile_k from the committed
        # profile while each column's stale qsample is carried forward
        # untouched — profile_quantiles_read would silently report
        # samples missing this batch, violating the
        # equals-from-scratch-sketch contract.  Fail loudly instead.
        raise ValueError(
            "store previously ingested with quantile_key (the running "
            "bottom-k sample cannot skip a batch) — keep passing "
            "quantile_key, or start a new store to profile without "
            "quantiles"
        )
    if quantile_key is not None:
        nums = [c for c, numeric in columns.items() if numeric]
        prev_k = prev.get("_quantile_k")
        if prev_k is not None and int(prev_k) != quantile_k:
            raise ValueError(
                f"quantile_k={quantile_k} differs from the store's "
                f"{prev_k} — the sample is only mergeable at one k"
            )
        if prev_k is None and int(prev.get("_n_rows", 0)) > 0:
            # round-14 self-review: enabling quantiles MID-STREAM would
            # silently produce a sample over a suffix of the corpus
            # while the report contract promises equality with a
            # from-scratch sketch over EVERYTHING ingested — fail
            # loudly instead
            raise ValueError(
                "quantile_key enabled on a store that already ingested "
                "batches without it — the bottom-k sample cannot be "
                "reconstructed retroactively; start a new store or "
                "profile without quantiles"
            )
        prof["_quantile_k"] = quantile_k
        if nums:
            from ros_sql_spark.operators.sketch import quantile_sketch

            stack_q = ", ".join(
                f"'{c}', CAST(`{c}` AS DOUBLE)" for c in nums
            )
            melted = batch_df.filter(
                F.col(quantile_key).isNotNull()
            ).selectExpr(
                f"`{quantile_key}` AS _qk",
                f"stack({len(nums)}, {stack_q}) AS (col, qv)",
            )
            sk = quantile_sketch(
                melted, "col", "qv", "_qk", k=quantile_k
            ).collect()  # bounded: ≤ |numeric cols| × k rows
            by_col: dict[str, list] = {c: [] for c in nums}
            for r in sk:
                by_col[r["col"]].append((int(r["h"]), float(r["v"])))
            for c in nums:
                p = prof.setdefault(c, {})
                old_s = [tuple(x) for x in p.get("qsample", [])]
                merged = sorted(old_s + by_col[c])[:quantile_k]
                p["qsample"] = [[h, v] for h, v in merged]

    new_rows = merged_multiplicities(joined, ["col", "v"])
    prof["_n_rows"] = n_rows
    # ONE atomic commit: merged multiplicities + running profile
    snapshot_merge(
        new_rows,
        table,
        keys=["col", "v"],
        tag=f"batch:{batch_id}",
        stats_cols=["col"],
        meta={"profile": prof, "batch": batch_id},
    )
    return prof


def profile_report_read(spark: SparkSession, store: str) -> DataFrame:
    """The running profile in qx52's report shape: (column, n_rows,
    n_null, n_distinct, min_num, max_num) — an O(1) manifest-meta
    read, no state scan."""
    prof = dict(snapshot_meta(spark, f"{store}/{_T_VALUES}")["profile"])
    n_rows = int(prof.pop("_n_rows", 0))
    rows = [
        (
            c,
            n_rows,
            int(p.get("n_null", 0)),
            int(p.get("n_distinct", 0)),
            round(p["min"], 6) if p.get("min") is not None else None,
            round(p["max"], 6) if p.get("max") is not None else None,
        )
        for c, p in sorted(prof.items())
        if not c.startswith("_")  # scalars ride the same dict
    ]
    return spark.createDataFrame(
        rows,
        "column string, n_rows bigint, n_null bigint, "
        "n_distinct bigint, min_num double, max_num double",
    )


def profile_quantiles_read(
    spark: SparkSession,
    store: str,
    ps: dict[str, float] | None = None,
) -> DataFrame:
    """Quantile estimates from the running bottom-k samples: one row
    per sampled column — (column, n_sample, <one DOUBLE per ps
    entry>).  Driver-side interpolation over the ≤ k stored values
    with BIT-IDENTICAL arithmetic to Spark's ``percentile()`` /
    operators/percentile.py: pos = p·(n−1), k = floor(pos), frac==0 →
    lo, else (1−frac)·lo + frac·hi (NOT the algebraically-equal lerp —
    last-ulp parity).  Estimates are exact whenever the column's whole
    value multiset fit the sample; columns profiled without
    ``quantile_key`` are absent.  O(1) manifest-meta read."""
    import math

    if ps is None:
        ps = {"p25": 0.25, "p50": 0.5, "p75": 0.75}
    for name, p in ps.items():
        if not 0.0 <= p <= 1.0:
            raise ValueError(f"{name}: percentile {p} outside [0, 1]")
    prof = dict(snapshot_meta(spark, f"{store}/{_T_VALUES}")["profile"])
    rows = []
    for c, p in sorted(prof.items()):
        if c.startswith("_") or not isinstance(p, dict):
            continue
        sample = p.get("qsample")
        if sample is None:
            continue
        vals = sorted(float(v) for _h, v in sample)
        n = len(vals)
        ests = []
        for name, frac_p in ps.items():
            if n == 0:
                ests.append(None)
                continue
            pos = float(frac_p) * float(n - 1)
            k = math.floor(pos)
            frac = pos - float(k)
            ests.append(
                vals[k]
                if frac == 0.0
                else (1.0 - frac) * vals[k] + frac * vals[k + 1]
            )
        rows.append((c, n, *ests))
    schema = "column string, n_sample bigint, " + ", ".join(
        f"{name} double" for name in ps
    )
    return spark.createDataFrame(rows, schema)


def profile_quantiles_backfill(
    corpus_df: DataFrame,
    store: str,
    columns: dict[str, bool],
    quantile_key: str,
    quantile_k: int = 128,
) -> dict:
    """ONE-TIME quantile enablement on a store that already ingested
    without ``quantile_key`` (round-15 directive #7 — previously the
    mid-stream-enable guard's only remedy was a full rebuild).

    The state table stores value MULTIPLICITIES, not row keys, so the
    bottom-k sample (ranked by the md5 of the row-unique key) cannot
    be reconstructed from state alone — the caller must supply
    ``corpus_df``: EVERYTHING ingested so far (profilers monitor a
    stored table; its current snapshot is exactly this frame).  The
    backfill VERIFIES the claim before committing — total rows and
    per-column null counts must equal the running counters (one
    aggregate job) — then computes the same bottom-k sketch the
    ingest path maintains and commits it (plus ``_quantile_k``) in
    one atomic meta-only manifest publish: zero state rows move,
    ``last_batch`` carries forward, so the batch watermark and crash
    recovery are untouched.  After the commit the store is
    indistinguishable from one that sampled from birth (equality with
    a from-scratch sketch asserted in tests); subsequent batches must
    keep passing ``quantile_key`` (the disable guard).

    Returns the committed profile.  Raises if quantiles are already
    enabled, nothing was ingested, or the corpus does not reconcile
    with the counters.
    """
    spark = corpus_df.sparkSession
    _check_idents(list(columns) + [quantile_key])
    table = f"{store}/{_T_VALUES}"
    try:
        meta = snapshot_meta(spark, table)
    except FileNotFoundError:
        meta = None
    if meta is None or "profile" not in meta:
        raise ValueError(
            f"no profile state at {store!r} — nothing to backfill; "
            "pass quantile_key to profile_ingest_batch from the start"
        )
    prof = dict(meta["profile"])
    if prof.get("_quantile_k") is not None:
        raise ValueError(
            "quantiles already enabled on this store "
            f"(_quantile_k={prof['_quantile_k']}) — nothing to backfill"
        )
    n_rows = int(prof.get("_n_rows", 0))
    if n_rows <= 0:
        raise ValueError(
            "store has ingested no rows — enable quantiles by passing "
            "quantile_key on the first batch instead of backfilling"
        )

    # reconcile the supplied corpus against the running counters: the
    # equals-from-scratch contract holds only if corpus_df IS the
    # union of everything ingested
    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in columns:
        aggs.append(
            F.coalesce(
                F.sum(F.col(c).isNull().cast("bigint")), F.lit(0)
            ).alias(f"_nn_{c}")
        )
    row = corpus_df.agg(*aggs).collect()[0]
    if int(row["_n"]) != n_rows:
        raise ValueError(
            f"corpus_df has {int(row['_n'])} rows but the store "
            f"ingested {n_rows} — the backfill corpus must be exactly "
            "everything ingested"
        )
    for c in columns:
        want = int(prof.get(c, {}).get("n_null", 0))
        if int(row[f"_nn_{c}"]) != want:
            raise ValueError(
                f"corpus_df null count for {c!r} is {int(row[f'_nn_{c}'])} "
                f"but the store recorded {want} — corpus mismatch"
            )

    prof["_quantile_k"] = quantile_k
    nums = [c for c, numeric in columns.items() if numeric]
    if nums:
        from ros_sql_spark.operators.sketch import quantile_sketch

        stack_q = ", ".join(f"'{c}', CAST(`{c}` AS DOUBLE)" for c in nums)
        melted = corpus_df.filter(
            F.col(quantile_key).isNotNull()
        ).selectExpr(
            f"`{quantile_key}` AS _qk",
            f"stack({len(nums)}, {stack_q}) AS (col, qv)",
        )
        sk = quantile_sketch(
            melted, "col", "qv", "_qk", k=quantile_k
        ).collect()  # bounded: ≤ |numeric cols| × k rows
        by_col: dict[str, list] = {c: [] for c in nums}
        for r in sk:
            by_col[r["col"]].append((int(r["h"]), float(r["v"])))
        for c in nums:
            p = prof.setdefault(c, {})
            p["qsample"] = [[h, v] for h, v in sorted(by_col[c])]

    # meta-only atomic commit: append an EMPTY frame (zero-row part
    # files are excluded from manifests, so no data file is added and
    # no keyed-DML rewrite candidate is created) with the updated meta;
    # last_batch carries forward so the watermark is untouched
    from ros_sql_spark.sources.snapshot import snapshot_commit, snapshot_read

    new_meta = dict(meta)
    new_meta["profile"] = prof
    snapshot_commit(
        snapshot_read(spark, table).limit(0),
        table,
        mode="append",
        meta=new_meta,
    )
    return prof


def profile_ingest_stream(
    src: DataFrame,
    store: str,
    checkpoint_path: str,
    columns: dict[str, bool],
    available_now: bool = True,
    quantile_key: str | None = None,
    quantile_k: int = 128,
):
    """Continuous profiling: every micro-batch folds into the state via
    :func:`profile_ingest_batch`.  Returns the StreamingQuery."""

    def body(df: DataFrame, batch_id: int) -> None:
        profile_ingest_batch(
            df, batch_id, store, columns,
            quantile_key=quantile_key, quantile_k=quantile_k,
        )

    from ros_sql_spark.streaming.util import start_foreach_batch

    return start_foreach_batch(src, body, checkpoint_path, available_now)
