"""Streaming near-duplicate-free corpus ingest: the exact
set-similarity index (operators/dedup.py::setsim_index /
setsim_join_incremental) maintained continuously under snapshot
isolation.

Each micro-batch probes the STORED index for (new × base) ∪
(new × new) exact-Jaccard pairs, drops every batch doc whose duplicate
cluster touches the published corpus (first-come wins — the published
doc is already downstream), keeps one survivor per purely-new cluster
(min id), appends survivors to the corpus table, and appends the
survivors' sets/prefixes plus the newly-seen shingle ranks to the
index tables.  Per-batch cost is proportional to the INCREMENT, never
the corpus — the 100 TB ingest contract.

FROZEN-RANK consistency (why the stored prefixes stay valid forever):
the PPJoin prefix guarantee needs one total shingle order shared by
every compared pair.  A shingle's rank is frozen at FIRST SIGHT — the
stored corpus frequency when the base had seen it, else the batch's
own frequency at the batch that introduced it — and the freq table
stores exactly that number.  Stored prefixes are computed under the
frozen ranks, future probes rank by coalesce(stored, own-batch df), so
every prefix ever stored is the prefix the CURRENT order would
produce: recall never breaks.  The rarest-first HEURISTIC degrades as
true frequencies drift (a shingle that later becomes corpus-frequent
keeps its early low rank, admitting extra candidates — extra COST,
never wrong answers); a periodic full re-index (setsim_index over the
corpus, committed as a fresh generation) restores it, the blue/green
discipline of operators/ann_store.

CONTINUOUSLY-CURRENT CLUSTER LABELS (round-8): a fifth snapshot table
``labels`` maps EVERY doc ever ingested — kept and dropped — to its
duplicate-cluster component (min reachable id over the union of all
pairs every batch discovered).  Maintained incrementally by
contraction (operators/dedup.py::connected_components_incremental_
delta): per batch only the fresh nodes plus the base rows whose
representative moved are computed, and they land as a KEYED MERGE
(file-pruned upsert), so both compute and write are increment-sized —
never the corpus.  Because the index covers survivors only, the edge
set is the pairs the ingest POLICY observed (new×kept ∪ new×new at
each batch), and the labels equal a one-shot connected_components
over exactly that union — asserted against an independent union-find
in tests.

Exactly-once: every table commit carries the ``batch:<id>`` watermark.
A replayed batch skips tables whose ``last_batch`` already covers it,
and recomputes against each table's PRE-batch state via snapshot TIME
TRAVEL — a crash between the index commits and the docs commit resumes
deterministically (the partially-updated index is never consulted at
its post-crash head, so a kept doc cannot be re-dropped against its
own just-indexed copy).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ros_sql_spark.sources.snapshot import (
    snapshot_commit,
    snapshot_merge,
    snapshot_meta,
    snapshot_pre_state,
    snapshot_read,
    snapshot_versions,
    snapshot_watermark,
)

__all__ = [
    "setsim_ingest_batch",
    "setsim_ingest_stream",
    "setsim_corpus_read",
    "setsim_labels_read",
    "setsim_reindex",
]

_T_DOCS = "docs"
_T_SETS = "sets"
_T_PREFIX = "prefix"
_T_FREQ = "freq"
_T_LABELS = "labels"


def setsim_ingest_batch(
    batch_df: DataFrame,
    batch_id: int,
    store: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    k: int = 5,
) -> dict:
    """Ingest one micro-batch into the deduplicated corpus at
    ``store`` (five snapshot tables: docs, sets, prefix, freq, labels).
    Returns {"n_batch", "n_kept", "n_dropped"}.  Idempotent under
    redelivery; single writer per store, like every sink."""
    from ros_sql_spark.operators.dedup import (
        _prefix_table,
        _shingle_sets,
        connected_components,
        connected_components_incremental_delta,
        setsim_join_incremental,
    )

    spark = batch_df.sparkSession
    t = {
        n: f"{store}/{n}"
        for n in (_T_DOCS, _T_SETS, _T_PREFIX, _T_FREQ, _T_LABELS)
    }
    pre = {n: snapshot_pre_state(spark, t[n], batch_id) for n in t}
    batch = batch_df.select(
        F.col(id_col).cast("bigint").alias(id_col), F.col(text_col)
    )

    if all(done for _, done in pre.values()):
        # FULLY-replayed batch (crash after the docs commit, before the
        # streaming checkpoint advanced — the common availableNow
        # restart): every table already carries the watermark, so
        # nothing will commit.  Without this exit the whole setsim join
        # + components loop + shingling re-ran just to fill the return
        # counts (round-8 review).  Accounting source, in order of
        # strength (round-9 ADVICE: after a maintenance vacuum
        # reclaimed the pre-batch versions, the old growth computation
        # read pre_docs=0 and reported n_kept = the whole corpus):
        # 1. the docs head manifest's ``acct`` meta — the counts the
        #    committing attempt persisted atomically with the data
        #    (carried through compaction like the watermark), valid
        #    whenever it names THIS batch;
        # 2. docs-table growth across the batch commit via time travel
        #    (full redelivery of OLDER batches — meta names a later
        #    batch, but the pre-batch version still exists);
        # 3. a genuinely-empty pre-state is only trusted when the
        #    table's history is complete back to creation
        #    (versions[0] == 1); otherwise the pre-batch state was
        #    VACUUMED and recomputing would silently mis-account —
        #    raise instead.
        acct = (snapshot_meta(spark, t[_T_DOCS]) or {}).get("acct")
        if acct is not None and acct.get("batch") == batch_id:
            n_batch = int(acct["n_batch"])
            n_kept = int(acct["n_kept"])
            return {
                "n_batch": n_batch,
                "n_kept": n_kept,
                "n_dropped": n_batch - n_kept,
                "committed": [],
            }
        pre_docs_df = pre[_T_DOCS][0]
        if (
            pre_docs_df is None
            and snapshot_versions(spark, t[_T_DOCS])[0] != 1
        ):
            raise RuntimeError(
                f"setsim_ingest_batch: replay of batch {batch_id} cannot "
                "be accounted — the pre-batch docs versions were vacuumed "
                "and the head manifest's acct meta names a different "
                "batch.  Vacuum only after the consumer (ledger/"
                "checkpoint) has recorded the batch, or keep_last >= 2."
            )
        n_batch = batch.count()
        post_docs = snapshot_read(spark, t[_T_DOCS]).count()
        pre_docs = pre_docs_df.count() if pre_docs_df is not None else 0
        n_kept = post_docs - pre_docs
        return {
            "n_batch": n_batch,
            "n_kept": n_kept,
            "n_dropped": n_batch - n_kept,
            "committed": [],
        }

    # PARTIALLY-committed replay (some tables carry the batch, docs
    # does not): the recompute below rebuilds the probe from each
    # table's PRE-batch state.  A table with (state=None, done=True)
    # whose history does NOT reach back to creation was VACUUMED —
    # probing an empty() base in its place would find no (new × base)
    # pairs and publish duplicates of the corpus permanently, the
    # partial-replay twin of the all-done accounting hole above
    # (round-10 review finding).  (None, True) with versions[0] == 1
    # is the legitimate first-ever-batch replay: the pre-state really
    # was empty.
    for name, (state, done) in pre.items():
        if (
            done
            and state is None
            and snapshot_versions(spark, t[name])[0] != 1
        ):
            raise RuntimeError(
                f"setsim_ingest_batch: partial replay of batch {batch_id} "
                f"cannot rebuild the pre-batch '{name}' state — its "
                "versions were vacuumed.  Vacuum only after the consumer "
                "(ledger/checkpoint) has recorded the batch, or "
                "keep_last >= 2."
            )

    def empty(schema: str) -> DataFrame:
        return spark.createDataFrame([], schema)

    base_sets = (
        pre[_T_SETS][0]
        if pre[_T_SETS][0] is not None
        else empty("_id bigint, _ts array<bigint>")
    )
    base_prefix = (
        pre[_T_PREFIX][0]
        if pre[_T_PREFIX][0] is not None
        else empty("_id bigint, _s bigint")
    )
    base_freq = (
        pre[_T_FREQ][0]
        if pre[_T_FREQ][0] is not None
        else empty("_s bigint, _df bigint")
    )

    # empty-base batches run through the SAME incremental path: with no
    # stored freq the rank is the batch's own df, which is exactly the
    # batch-mode setsim_join order — one code path, identical output.
    _batch_pins: list[DataFrame] = []
    pairs = setsim_join_incremental(
        batch,
        (base_sets, base_prefix, base_freq),
        id_col=id_col,
        text_col=text_col,
        threshold=threshold,
        k=k,
        pins_out=_batch_pins,
    ).select("id_a", "id_b").localCheckpoint(eager=False)
    _batch_pins.append(pairs)

    comp = connected_components(pairs, id_col="cid")
    batch_ids = batch.select(F.col(id_col).alias("cid"))
    # clusters containing any non-batch member touch the published
    # corpus: every batch member of those clusters drops (first-come
    # wins); purely-new clusters keep min id (the exact_dedup
    # canonical-survivor policy)
    base_comps = (
        comp.join(batch_ids, "cid", "left_anti").select("component")
    )
    batch_members = comp.join(batch_ids, "cid", "left_semi")
    keep_of_new = (
        batch_members.join(base_comps, "component", "left_anti")
        .groupBy("component")
        .agg(F.min("cid").alias("cid"))
        .select("cid")
    )
    dropped_ids = batch_members.select("cid").join(
        keep_of_new, "cid", "left_anti"
    )
    survivors = batch.join(
        dropped_ids.select(F.col("cid").alias(id_col)), id_col, "left_anti"
    ).localCheckpoint(eager=False)

    # cluster-label maintenance: contraction over the PRE-batch label
    # map — the delta is fresh batch nodes plus base rows whose
    # representative merged, increment-sized compute AND write (the
    # keyed merge below rewrites only the files those keys land in).
    base_labels = (
        pre[_T_LABELS][0]
        if pre[_T_LABELS][0] is not None
        else empty(f"{id_col} bigint, component bigint")
    )
    label_delta = connected_components_incremental_delta(
        pairs,
        base_labels,
        id_col=id_col,
        new_nodes=batch.select(id_col),
        # the stored label map is corpus-sized and this runs per
        # micro-batch: semi-reduce it to increment-touched ids and
        # broadcast the increment-sized relabeling — O(touched), never
        # an O(corpus) shuffle per batch (incremental-probe discipline)
        semi_reduce_base=True,
    )

    # index increments, all under the FROZEN rank used by this probe.
    # s_sets and ranked are pinned: the four commits below are separate
    # ACTIONS (ReusedExchange only dedups within one), so without the
    # checkpoints the survivor/batch shingling would re-execute once
    # per consuming commit (CLAUDE.md's several-separate-actions rule).
    s_sets = _shingle_sets(survivors, id_col, text_col, k).localCheckpoint(
        eager=False
    )
    s_tok = s_sets.select(
        "_id", F.explode_outer("_ts").alias("_s")
    ).filter(F.col("_s").isNotNull())
    batch_sets = _shingle_sets(batch, id_col, text_col, k)
    batch_tok = batch_sets.select(
        "_id", F.explode_outer("_ts").alias("_s")
    ).filter(F.col("_s").isNotNull())
    # the probe ranked unseen shingles by the FULL batch's df — store
    # that exact number for the unseen shingles that survive
    batch_freq = batch_tok.groupBy("_s").agg(F.count("*").alias("_bdf"))
    ranked = (
        s_tok.join(base_freq, "_s", "left")
        .join(batch_freq, "_s")
        .select("_id", "_s", F.coalesce("_df", "_bdf").alias("_df"))
    ).localCheckpoint(eager=False)
    s_prefix = _prefix_table(ranked, threshold)
    freq_new = (
        ranked.select("_s", "_df")
        .distinct()
        .join(base_freq.select("_s"), "_s", "left_anti")
    )

    # counted BEFORE the docs commit so the per-batch accounting can be
    # persisted in the docs manifest's ``acct`` meta — the fast-path
    # source of truth that survives a pre-batch vacuum (round-9 ADVICE)
    n_batch = batch.count()
    n_kept = survivors.count()

    committed = []
    commits = [
        ("append", _T_SETS, s_sets),
        ("append", _T_PREFIX, s_prefix),
        ("append", _T_FREQ, freq_new),
        # labels UPSERT (moved components rewrite in place); docs still
        # LAST: its watermark marks the batch observable
        ("merge", _T_LABELS, label_delta),
        ("append", _T_DOCS, survivors),
    ]
    for kind, name, df in commits:
        if pre[name][1]:
            continue  # this table already has the batch (crashed attempt)
        if kind == "merge":
            # stats_cols=keys is load-bearing: without recorded id
            # bounds every later merge rewrites EVERY labels file
            # (O(corpus) writes per batch); with them, fresh monotonic
            # ids land beyond all stored ranges (pure append) and only
            # files holding MOVED labels rewrite.
            snapshot_merge(
                df,
                t[name],
                keys=[id_col],
                tag=f"batch:{batch_id}",
                stats_cols=[id_col],
            )
        else:
            snapshot_commit(
                df,
                t[name],
                mode="append",
                tag=f"batch:{batch_id}",
                meta=(
                    {
                        "acct": {
                            "batch": batch_id,
                            "n_batch": n_batch,
                            "n_kept": n_kept,
                        }
                    }
                    if name == _T_DOCS
                    else None
                ),
            )
        committed.append(name)
    # every consuming action (counts + commits) is done and nothing
    # pinned escapes this function — reclaim the per-batch checkpoint
    # storage NOW instead of waiting on the ContextCleaner's GC cycle
    # (round-15 ADVICE: pins otherwise accumulate across micro-batches)
    from ros_sql_spark.functions.util import release_local_checkpoints

    release_local_checkpoints(
        *_batch_pins, survivors, s_sets, ranked
    )
    return {
        "n_batch": n_batch,
        "n_kept": n_kept,
        "n_dropped": n_batch - n_kept,
        "committed": committed,
    }


def setsim_ingest_stream(
    docs: DataFrame,
    store: str,
    checkpoint_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    k: int = 5,
    available_now: bool = True,
):
    """Continuous dedup-on-ingest: each micro-batch lands only the docs
    that near-duplicate neither the published corpus nor a kept
    batch-mate.  Returns the StreamingQuery."""

    def body(df: DataFrame, batch_id: int) -> None:
        setsim_ingest_batch(
            df, batch_id, store, id_col, text_col, threshold, k
        )

    from ros_sql_spark.streaming.util import start_foreach_batch

    return start_foreach_batch(docs, body, checkpoint_path, available_now)


def setsim_corpus_read(spark: SparkSession, store: str) -> DataFrame:
    """The deduplicated corpus as of now (snapshot isolation)."""
    return snapshot_read(spark, f"{store}/{_T_DOCS}")


def setsim_labels_read(spark: SparkSession, store: str) -> DataFrame:
    """The duplicate-cluster map as of now: (id, component) for EVERY
    doc ever ingested — kept and dropped — with component = min id of
    its duplicate cluster.  A dropped doc's published canonical is its
    component's surviving min member; kept docs are each their
    cluster's representative."""
    return snapshot_read(spark, f"{store}/{_T_LABELS}")


def setsim_reindex(
    spark: SparkSession,
    store: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    k: int = 5,
) -> dict:
    """Rebuild the index tables from the CURRENT corpus — the periodic
    maintenance that restores the rarest-first heuristic after frozen
    ranks have drifted from true corpus frequencies (cost decay only;
    recall was never at risk).  Blue/green at the snapshot tier: each
    table's rebuild lands as one overwrite commit guarded by
    ``expected_version`` — an ingest racing the re-index loses cleanly
    (SnapshotConflict) instead of interleaving half-new half-old index
    state, and readers on older versions are untouched.  The
    ``last_batch`` watermark carries forward across overwrites by the
    snapshot contract, so streaming redelivery checks survive the
    rebuild.  Run it from the single writer's maintenance window, like
    ``snapshot_compact``."""
    from ros_sql_spark.operators.dedup import setsim_index

    # refuse on a half-committed batch: if an index table's watermark
    # is ahead of the docs table's, a crashed ingest attempt is pending
    # — rebuilding the index from docs would erase that batch's index
    # increments while the carried watermark makes the replay skip
    # re-appending them (permanent index gap).  Replay the stream (or
    # finish the batch) first.
    # PIN the expected versions NOW, at watermark-check time — reading
    # them again immediately before each commit would make the OCC
    # guard vacuous: a racing ingest that lands between the docs read
    # and the commits would be silently overwritten (its index
    # increments erased while its carried watermark makes the replay
    # skip re-appending them — the permanent-gap hazard the guard
    # exists for; round-8 review).  With pinned versions the race
    # surfaces as SnapshotConflict and the reindex retries cleanly.
    pinned: dict[str, int] = {}

    def _lb(name: str):
        pinned[name], lb = snapshot_watermark(spark, f"{store}/{name}")
        return lb

    docs_lb = _lb(_T_DOCS)
    for name in (_T_SETS, _T_PREFIX, _T_FREQ, _T_LABELS):
        ilb = _lb(name)
        if ilb != docs_lb:
            raise RuntimeError(
                f"setsim_reindex: index table '{name}' watermark "
                f"({ilb}) != docs watermark ({docs_lb}) — a crashed "
                "ingest batch is pending; replay the stream to finish "
                "it before re-indexing."
            )

    docs = snapshot_read(spark, f"{store}/{_T_DOCS}", version=pinned[_T_DOCS])
    sets, prefix, freq = setsim_index(
        docs, id_col=id_col, text_col=text_col, threshold=threshold, k=k
    )
    out = {}
    for name, df in ((_T_SETS, sets), (_T_PREFIX, prefix), (_T_FREQ, freq)):
        out[name] = snapshot_commit(
            df,
            f"{store}/{name}",
            mode="overwrite",
            expected_version=pinned[name],
        )
    return out
