"""Streaming curate(): the FULL cleaning pipeline as a continuous
ingest — per-batch boilerplate strip -> span-level exact dedup ->
quality gate -> eval-set decontamination -> embedding-cosine semantic
dedup composed IN FRONT of the near-dup setsim ingest
(streaming/dedup.py), with a per-batch row-accounting LEDGER landed
under the same ``batch:<id>`` watermark.

Until now a 100 TB streaming ingest got dedup-only curation: the
batch pipeline (pipeline.py::curate) composes boilerplate -> span ->
quality -> dedup, but only the dedup stage had a continuous twin.
The cleaning stages are all STATELESS per batch (pure functions of
the batch's own rows), so the streaming composition is the same
operators applied per micro-batch, then handed to the stateful dedup
ingest that already owns its incremental index.

Semantics vs batch ``curate()`` (documented, tested):
- **quality** is per-document: streaming == batch EXACTLY, any
  batching.
- **boilerplate / span dedup** use document-frequency statistics; the
  streaming stages compute them over the BATCH (chrome is batch-local
  by policy).  A passage/span whose repetitions are split across
  batches below the threshold survives where the batch pipeline would
  strip it — the price of never retro-editing published docs.  At
  production batch sizes (millions of docs per trigger) chrome that
  matters repeats within every batch; the equivalence test constructs
  exactly that regime and asserts drained-stream == batch curate().
- **dedup** is the setsim ingest contract: first-come-wins against
  the published corpus, min-id per purely-new cluster, exact Jaccard
  at the threshold (exact duplicates are Jaccard 1.0, so the batch
  pipeline's separate md5 stage is subsumed).  Transitive chains
  THROUGH a dropped doc are not observed across batches (the index
  stores survivors only) — same policy the labels table documents.

- **decontamination** (optional ``eval_docs``) is batch-stateless too
  (the eval shingle set is fixed): exact per batch.  It runs BEFORE
  dedup here — a contaminated doc must never become a published
  cluster canonical — where the batch pipeline runs it after near-dup;
  the orders agree whenever duplicate clusters are contamination-
  homogeneous (the practical case: near-dups share the contaminating
  shingles).
- **semantic dedup** (optional ``embeddings``) is STATEFUL like the
  text dedup: the published corpus's vectors and hyperplane-LSH
  buckets persist as two more snapshot tables (``vecs``/``vbuckets``)
  under the same watermark, and each batch probes (new x
  touched-bucket base) u (new x new) with an exact-cosine verify —
  increment-sized candidates, first-come-wins, min id per purely-new
  cluster.  Same LSH family and rounding as the batch stage.  Only
  PUBLISHED docs' vectors join the base (committed after the docs
  table).  ORDERING divergence (same class as decontam): it runs
  BEFORE the text dedup here, where the batch pipeline runs it after
  near-dup — so a batch doc can be semantic-dropped in favor of a
  cluster-mate that the text stage then drops as a dup of the
  published corpus, leaving the semantic drop without a published
  semantic canonical.  The orders agree when semantic clusters are
  text-dedup-homogeneous (members share text-dup fate — the common
  case: a text dup of a published doc usually carries a near-identical
  embedding too, putting the published doc in the semantic cluster);
  the labels table tracks TEXT-dedup clusters only, so semantic drops
  are not covered by its published-canonical invariant.
- **mixture** (optional ``budgets``, round-12 — the last batch-only
  stage gets a continuous twin): per-source token budgets are spent
  against the RUNNING POST-DEDUP spend of the published corpus, so
  the duplicate-rate overfill a pre-dedup budget would suffer cannot
  happen — the stage runs strictly AFTER this batch's docs commit, on
  exactly the batch docs that were published, and its state is a
  ninth snapshot table ``mix`` ((batch_id, doc_id, source, n_tok),
  one row per doc admitted to the mix) under the same ``batch:<id>``
  watermark.  Each batch reads the PRE-batch spend from the mix
  manifest's carried ``meta`` (the docs table's acct idiom — an O(1)
  manifest read, never an O(|mix|) re-aggregation of stored state;
  the incremental-probe discipline), subtracts it from the budgets
  driver-side, and applies the
  BATCH operator (``token_budget_mix``: same id-ascending order, same
  keep-iff-tokens-BEFORE-fit boundary rule) with the residual
  budgets.  Spending kept-doc tokens only is EXACTLY the batch cum
  semantics: before a source crosses its budget every ordered doc is
  kept (spend == full prefix sum); the crossing doc is admitted and
  pushes spend >= budget; after it the residual budget is 0 forever —
  precisely the batch rule that every doc after the boundary drops.
  EQUIVALENCE REGIME (tested): drained-stream mix == batch
  ``curate(budgets=...)`` whenever batches arrive in per-source
  id-ascending order (the natural ingest cadence) and the dedup twins
  agree; out-of-order arrival spends in ARRIVAL order — the
  documented never-retro-edit divergence, same class as
  boilerplate/span batch-locality.  Unlike batch curate() (whose
  output frame IS post-mixture), the published corpus stays the full
  dedup survivor set and the mix is a SELECTION over it
  (``curate_mix_read`` = docs ∩ mix) — recipes can be re-spent from
  the corpus without re-ingesting.

LEDGER (the observation-ledger reconciliation the batch pipeline gets
from CollectMetrics): a sixth snapshot table ``ledger`` appends one
row per batch — (batch_id, n_batch, n_boilerplate, n_span, n_quality,
n_decontam, n_semantic, n_dedup, n_kept) — committed LAST (after the
docs table),
carrying the same watermark, so redelivery can never double-count.
Per-row invariant: n_batch == the stage drops + n_kept; across rows:
sum(n_kept) == corpus rows, sum(n_batch) == total input.  Both
asserted in tests and the scale drive.

Crash recovery: the cleaning stages are deterministic per batch, so a
replayed batch reproduces the same cleaned frame bit-for-bit and the
setsim ingest's time-travel machinery (streaming/dedup.py) resumes
the partially-committed dedup tables; the ledger's own watermark
check makes its append idempotent.

Reference parity: strawlab/ros_sql has no corpus tooling; this is the
engine-extension surface (SURVEY.md §2.3 families q85/q21/q25/qx07)
composed for continuous ingest.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ros_sql_spark.sources.snapshot import (
    snapshot_commit,
    snapshot_pre_state,
    snapshot_read,
)
from ros_sql_spark.streaming.dedup import (
    _T_DOCS,
    setsim_corpus_read,
    setsim_ingest_batch,
)

__all__ = [
    "curate_ingest_batch",
    "curate_ingest_stream",
    "curate_ledger_read",
    "curate_corpus_read",
    "curate_mix_read",
]

_T_LEDGER = "ledger"
_T_VECS = "vecs"
_T_VBUCKETS = "vbuckets"
_T_MIX = "mix"

_LEDGER_SCHEMA = (
    "batch_id bigint, n_batch bigint, n_boilerplate bigint, "
    "n_span bigint, n_quality bigint, n_decontam bigint, "
    "n_semantic bigint, n_dedup bigint, n_kept bigint"
)


def curate_ingest_batch(
    batch_df: DataFrame,
    batch_id: int,
    store: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    min_tokens: int = 10,
    max_punct_ratio: float = 0.25,
    min_stopword_ratio: float = 0.015,
    threshold: float = 0.5,
    k: int = 5,
    boilerplate_max_df: int | None = None,
    boilerplate_passage_tokens: int = 10,
    span_dedup_k: int | None = None,
    span_min_docs: int = 3,
    eval_docs: DataFrame | None = None,
    decontam_k: int = 5,
    decontam_method: str = "broadcast",
    bloom_m_bits: int | None = None,
    embeddings: DataFrame | None = None,
    embedding_id_col: str = "vec_id",
    embedding_col: str = "embedding",
    embedding_dim: int = 64,
    cosine_threshold: float = 0.7,
    budgets: dict[str, int] | None = None,
    budget_source_col: str = "source",
    budget_token_col=None,
) -> dict:
    """Curate one micro-batch into the corpus at ``store`` (the five
    setsim-ingest tables + ``ledger``; with ``embeddings`` also
    ``vecs`` and ``vbuckets`` — the published corpus's vectors and
    their hyperplane-LSH buckets, the semantic stage's state).

    Stage chain mirrors pipeline.py::curate with batch-local
    boilerplate/span statistics (module docstring): boilerplate ->
    span -> quality -> decontam -> semantic dedup -> setsim dedup
    ingest.  Returns the ledger row as a dict.  Idempotent under
    redelivery; single writer per store.

    Scale shape: every stage is increment-sized — the cleaning stages
    never see anything but the batch, and the dedup probe is the
    (new x base) u (new x new) incremental contract.  Each stage
    output is lazily checkpointed because it feeds BOTH the next stage
    and its ledger count (two separate actions — CLAUDE.md's
    several-separate-actions rule; without the checkpoint the passage
    explode / span windows would re-execute once per consumer).
    """
    spark = batch_df.sparkSession

    # FULLY-replayed batch: the ledger commits LAST, so its watermark
    # implies every table already landed — return the COMMITTED row
    # verbatim instead of recomputing.  (Recomputing was also WRONG
    # after a maintenance vacuum reclaimed the pre-batch versions:
    # snapshot_pre_state then yields an empty base and the dedup fast path
    # reported n_kept = the whole corpus — round-9 review finding.)
    if snapshot_pre_state(spark, f"{store}/{_T_LEDGER}", batch_id)[1]:
        r = (
            snapshot_read(spark, f"{store}/{_T_LEDGER}")
            .filter(F.col("batch_id") == batch_id)
            .collect()
        )
        if r:
            return {k: v for k, v in r[0].asDict().items()}

    cur = batch_df.select(
        F.col(id_col).cast("bigint").alias(id_col), F.col(text_col)
    ).localCheckpoint(eager=False)
    n_batch = cur.count()
    n_prev = n_batch

    # 0. boilerplate strip (q85, batch-local df) — BEFORE gating, the
    #    CCNet ordering: chrome neither poisons the quality features
    #    nor fabricates near-dup shingles
    n_bp = 0
    if boilerplate_max_df is not None:
        from ros_sql_spark.operators.dedup import remove_boilerplate

        cur = remove_boilerplate(
            cur,
            id_col=id_col,
            text_col=text_col,
            passage_tokens=boilerplate_passage_tokens,
            max_doc_freq=boilerplate_max_df,
        ).localCheckpoint(eager=False)
        n_now = cur.count()
        n_bp = n_prev - n_now
        n_prev = n_now

    # 0b. span-level exact dedup (batch-local span df); the stage's
    #     own window cache is off — our checkpoint owns materialization
    n_span = 0
    if span_dedup_k is not None:
        from ros_sql_spark.operators.dedup import remove_duplicate_spans

        cur = remove_duplicate_spans(
            cur,
            id_col=id_col,
            text_col=text_col,
            k=span_dedup_k,
            min_docs=span_min_docs,
            persist_windows=False,
        ).localCheckpoint(eager=False)
        n_now = cur.count()
        n_span = n_prev - n_now
        n_prev = n_now

    # 1. quality gate — per-doc pure projection, identical to batch
    from ros_sql_spark.functions.text import (
        punct_ratio,
        stopword_ratio,
        tokens,
    )

    feats = cur.select(
        id_col,
        text_col,
        F.size(tokens(text_col)).cast("bigint").alias("_n_tok"),
        F.round(punct_ratio(text_col), 6).alias("_punct"),
    ).select(
        id_col,
        text_col,
        "_n_tok",
        "_punct",
        F.round(stopword_ratio(tokens(text_col), "en"), 6).alias("_stop"),
    )
    keep = (
        (F.col("_n_tok") >= min_tokens)
        & (F.col("_punct") < max_punct_ratio)
        & (F.col("_stop") > min_stopword_ratio)
    )
    cur = (
        feats.filter(keep)
        .select(id_col, text_col)
        .localCheckpoint(eager=False)
    )
    n_now = cur.count()
    n_quality = n_prev - n_now
    n_prev = n_now

    # 1b. eval-set decontamination (q20) — batch-stateless: the eval
    #     shingle set is FIXED, so the per-batch probe is exact.  Runs
    #     BEFORE dedup here (a contaminated doc must never become a
    #     published cluster canonical) where the batch pipeline runs it
    #     AFTER near-dup; the two orders agree whenever duplicate
    #     clusters are contamination-homogeneous (near-dups share the
    #     contaminating shingles) — the heterogeneous-cluster edge is a
    #     documented policy difference, not a bug.
    n_decontam = 0
    if eval_docs is not None:
        if decontam_method not in ("broadcast", "bloom"):
            raise ValueError(f"decontam_method={decontam_method!r}")
        from ros_sql_spark.operators.dedup import shingle_hashes

        eval_sh = (
            shingle_hashes(eval_docs, id_col, text_col, decontam_k)
            .select(F.explode_outer("_hs").alias("s"))
            .filter(F.col("s").isNotNull())
            .distinct()
        )
        cur_sh = shingle_hashes(cur, id_col, text_col, decontam_k).select(
            id_col, F.explode_outer("_hs").alias("s")
        )
        if decontam_method == "bloom":
            from ros_sql_spark.operators.bloom import bloom_contaminated_ids

            if bloom_m_bits is None:
                n_ev = eval_sh.count()
                bloom_m_bits = max(64, ((20 * max(n_ev, 1) + 63) // 64) * 64)
            contaminated = bloom_contaminated_ids(
                eval_sh, cur_sh, id_col, "s", bloom_m_bits
            )
        else:
            contaminated = (
                cur_sh.join(F.broadcast(eval_sh), "s", "left_semi")
                .select(id_col)
                .distinct()
            )
        cur = cur.join(contaminated, id_col, "left_anti").localCheckpoint(
            eager=False
        )
        n_now = cur.count()
        n_decontam = n_prev - n_now
        n_prev = n_now

    # 1c. semantic (embedding-cosine) near-dup — STATEFUL like setsim:
    #     the published corpus's vectors and their hyperplane-LSH
    #     buckets persist as two snapshot tables (``vecs``,
    #     ``vbuckets``), and the batch probes (new x touched-bucket
    #     base) u (new x new) — increment-sized candidates, exact
    #     cosine verify, first-come-wins against the published corpus,
    #     min id per purely-new cluster (the setsim ingest policy
    #     applied to the embedding modality).  Same LSH family,
    #     rounding and threshold semantics as the batch stage
    #     (cosine_dedup_pairs_lsh: 16 bands x 4 planes, seed 42,
    #     round(cos, 6) >= threshold), so the candidate recall curve
    #     and the pair set match batch on any pair both consider.
    #     Docs without a vector are never candidates (same as batch).
    batch_vecs = batch_vb = None
    if embeddings is not None:
        from ros_sql_spark.operators.dedup import connected_components
        from ros_sql_spark.operators.similarity import (
            cosine_arrow,
            hyperplane_buckets,
        )

        batch_vecs = (
            embeddings.select(
                F.col(embedding_id_col).cast("bigint").alias(id_col),
                F.col(embedding_col).alias("_vec"),
            )
            .join(cur.select(id_col), id_col, "left_semi")
            .localCheckpoint(eager=False)
        )
        # posexplode_outer + null filter: the Generate invariant
        # (CLAUDE.md) — a non-outer explode makes InferFiltersFromGenerate
        # re-evaluate the Arrow matmul per row as an inferred pre-filter
        bk = F.posexplode_outer(
            hyperplane_buckets("_vec", embedding_dim, 16, 4, 42)
        ).alias("band", "bucket")
        batch_vb = (
            batch_vecs.select(F.col(id_col), bk)
            .filter(F.col("bucket").isNotNull())
            .select(
                id_col,
                F.col("band").cast("int").alias("band"),
                F.col("bucket").cast("bigint").alias("bucket"),
            )
            .localCheckpoint(eager=False)
        )

        def _empty(schema: str) -> DataFrame:
            return spark.createDataFrame([], schema)

        # one snapshot_pre_state walk per table per batch — the (state, done)
        # pairs are reused by the commit loop below
        vec_pre = {
            n: snapshot_pre_state(spark, f"{store}/{n}", batch_id)
            for n in (_T_VECS, _T_VBUCKETS)
        }
        base_vecs = vec_pre[_T_VECS][0]
        if base_vecs is None:
            base_vecs = _empty(f"{id_col} bigint, _vec array<float>")
        base_vb = vec_pre[_T_VBUCKETS][0]
        if base_vb is None:
            base_vb = _empty(f"{id_col} bigint, band int, bucket bigint")

        nb = batch_vb.select(
            F.col(id_col).alias("id_a"), "band", "bucket"
        )
        # O(increment) per batch, not O(corpus): the base bucket table
        # is semi-reduced to the increment-TOUCHED (band, bucket) keys
        # via a broadcast before any join — without this the candidate
        # join shuffles the whole corpus-sized vbuckets table every
        # micro-batch (the exact hazard the round-8 dedup audit fixed
        # in minhash_pairs_incremental).  The base scan itself stays
        # map-side under the broadcast semi.
        touched = batch_vb.select("band", "bucket").dropDuplicates()
        base_touched = base_vb.join(
            F.broadcast(touched), ["band", "bucket"], "left_semi"
        )
        cand_base = (
            nb.join(
                base_touched.select(
                    F.col(id_col).alias("id_b"), "band", "bucket"
                ),
                ["band", "bucket"],
            )
            .select("id_a", "id_b")
            .dropDuplicates(["id_a", "id_b"])
            .localCheckpoint(eager=False)
        )
        cand_new = (
            nb.join(
                batch_vb.select(
                    F.col(id_col).alias("id_b"), "band", "bucket"
                ),
                ["band", "bucket"],
            )
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .dropDuplicates(["id_a", "id_b"])
        )
        va = batch_vecs.select(
            F.col(id_col).alias("id_a"), F.col("_vec").alias("_va")
        )
        vb_new = batch_vecs.select(
            F.col(id_col).alias("id_b"), F.col("_vec").alias("_vb")
        )
        # same discipline for the vector fetch: only CANDIDATE base
        # ids' vectors leave the stored table (broadcast semi on the
        # increment-sized candidate id set), never a corpus-wide
        # shuffle of base_vecs per batch
        vb_base = (
            base_vecs.join(
                F.broadcast(
                    cand_base.select(F.col("id_b").alias(id_col))
                    .dropDuplicates()
                ),
                id_col,
                "left_semi",
            )
            .select(F.col(id_col).alias("id_b"), F.col("_vec").alias("_vb"))
        )
        sim = F.round(cosine_arrow("_va", "_vb"), 6)
        pairs = (
            cand_base.join(va, "id_a").join(vb_base, "id_b")
            .unionByName(cand_new.join(va, "id_a").join(vb_new, "id_b"))
            .select("id_a", "id_b", sim.alias("_sim"))
            .filter(F.col("_sim") >= cosine_threshold)
            .select("id_a", "id_b")
            .localCheckpoint(eager=False)
        )
        comp = connected_components(pairs, id_col="cid")
        batch_node_ids = batch_vecs.select(F.col(id_col).alias("cid"))
        base_comps = comp.join(batch_node_ids, "cid", "left_anti").select(
            "component"
        )
        batch_members = comp.join(batch_node_ids, "cid", "left_semi")
        keep_of_new = (
            batch_members.join(base_comps, "component", "left_anti")
            .groupBy("component")
            .agg(F.min("cid").alias("cid"))
            .select("cid")
        )
        sem_dropped = batch_members.select("cid").join(
            keep_of_new, "cid", "left_anti"
        )
        cur = cur.join(
            sem_dropped.select(F.col("cid").alias(id_col)),
            id_col,
            "left_anti",
        ).localCheckpoint(eager=False)

    # 2. near-dup (+ exact, Jaccard 1.0) setsim ingest — the stateful
    #    stage owns its index, watermarks and crash recovery
    st = setsim_ingest_batch(
        cur,
        batch_id,
        store,
        id_col=id_col,
        text_col=text_col,
        threshold=threshold,
        k=k,
    )
    # semantic drops derived RESIDUALLY from the setsim input size:
    # st["n_batch"] is the post-semantic frame the ingest actually saw
    # — on a normal run identical to counting cur, but on a
    # replay-after-vacuum the ingest's fast path returns the ORIGINAL
    # attempt's persisted count (docs manifest acct meta), so the
    # ledger attribution stays exact even when the pre-batch vector
    # state needed to recompute sem_dropped no longer exists
    # (round-9 ADVICE).
    n_semantic = n_prev - st["n_batch"]

    # semantic state lands AFTER the docs commit: only PUBLISHED batch
    # docs' vectors join the base (a doc the text dedup dropped is not
    # in the corpus and must not gate future semantic probes).  On a
    # crash between these commits the replay recomputes the probe
    # against the PRE-batch state via time travel and skips whichever
    # table already carries the watermark.
    if embeddings is not None:
        pub_ids = cur.select(id_col).join(
            snapshot_read(spark, f"{store}/{_T_DOCS}").select(id_col),
            id_col,
            "left_semi",
        )
        for name, df in ((_T_VECS, batch_vecs), (_T_VBUCKETS, batch_vb)):
            if vec_pre[name][1]:
                continue
            snapshot_commit(
                df.join(pub_ids, id_col, "left_semi"),
                f"{store}/{name}",
                mode="append",
                tag=f"batch:{batch_id}",
            )

    # 3. streaming mixture (module docstring): spend per-source token
    #    budgets against the RUNNING post-dedup spend, on exactly this
    #    batch's PUBLISHED docs — never pre-dedup, so the duplicate
    #    rate can't overfill a budget.  State = the ``mix`` table; the
    #    pre-batch spend comes from snapshot_pre_state's time travel, so a
    #    crash replay re-spends against the same balance it saw the
    #    first time (deterministic kept set, idempotent commit).
    if budgets is not None:
        if budget_source_col not in batch_df.columns:
            raise ValueError(
                f"curate mixture mode needs {budget_source_col!r} on the "
                "input batch (budgets are per-source)"
            )
        mix_pre, mix_done = snapshot_pre_state(
            spark, f"{store}/{_T_MIX}", batch_id
        )
        if not mix_done:
            from ros_sql_spark.functions.text import token_count_bpe
            from ros_sql_spark.operators.sampling import token_budget_mix
            from ros_sql_spark.sources.snapshot import snapshot_meta

            # this batch's published survivors, with CLEANED text (the
            # token count the batch pipeline budgets) + arrival source.
            # Unique-ids-across-the-stream is the ingest contract, so
            # cur ∩ docs is exactly this batch's kept set.
            pub = (
                cur.join(
                    snapshot_read(spark, f"{store}/{_T_DOCS}").select(
                        id_col
                    ),
                    id_col,
                    "left_semi",
                )
                .join(
                    batch_df.select(
                        F.col(id_col).cast("bigint").alias(id_col),
                        F.col(budget_source_col).alias("source"),
                    ),
                    id_col,
                )
            )
            # pre-batch balance: the RUNNING spend rides the mix
            # manifest's ``meta`` (the docs table's acct idiom) — an
            # O(1) manifest read per batch, NOT an O(|mix|) re-
            # aggregation of the stored table (the incremental-probe
            # discipline: per-batch cost must track the increment).
            # When ``not mix_done`` the head precedes this batch, so
            # its carried meta IS the pre-batch balance; maintenance
            # commits carry meta forward.  Fallback for meta-less
            # stores: one aggregate over the pre-state frame.
            spent: dict = {}
            if mix_pre is not None:
                m = snapshot_meta(spark, f"{store}/{_T_MIX}")
                if m is not None and "spend" in m:
                    spent = {s: int(v) for s, v in m["spend"].items()}
                else:  # pragma: no cover - legacy store
                    spent = {
                        r["source"]: int(r["t"])
                        for r in mix_pre.groupBy("source")
                        .agg(F.sum("n_tok").alias("t"))
                        .collect()
                    }
            residual = {
                s: max(0, int(b) - spent.get(s, 0))
                for s, b in budgets.items()
            }
            tok = (
                budget_token_col
                if budget_token_col is not None
                else token_count_bpe(text_col)
            )
            kept_mix = token_budget_mix(
                pub,
                residual,
                token_col=tok,
                source_col="source",
                id_col=id_col,
            ).select(
                F.lit(batch_id).cast("bigint").alias("batch_id"),
                F.col(id_col).cast("bigint").alias(id_col),
                "source",
                F.col("_n_tok").alias("n_tok"),
            ).localCheckpoint(eager=False)  # two consumers: spend agg + commit
            # O(sources) bounded collect of THIS batch's admissions
            # (mixtures are O(10²) sources; token_budget_mix already
            # broadcasts them as a literal map)
            batch_spend = {
                r["source"]: int(r["t"])
                for r in kept_mix.groupBy("source")
                .agg(F.sum("n_tok").alias("t"))
                .collect()
            }
            new_spend = {
                s: spent.get(s, 0) + batch_spend.get(s, 0)
                for s in set(spent) | set(batch_spend)
            }
            snapshot_commit(
                kept_mix,
                f"{store}/{_T_MIX}",
                mode="append",
                tag=f"batch:{batch_id}",
                meta={"spend": new_spend},
            )

    row = {
        "batch_id": batch_id,
        "n_batch": n_batch,
        "n_boilerplate": n_bp,
        "n_span": n_span,
        "n_quality": n_quality,
        "n_decontam": n_decontam,
        "n_semantic": n_semantic,
        "n_dedup": st["n_dropped"],
        "n_kept": st["n_kept"],
    }
    # ledger LAST: its watermark implies the whole batch landed.  The
    # pre-state probe makes redelivery a no-op (never double-counts).
    _, done = snapshot_pre_state(spark, f"{store}/{_T_LEDGER}", batch_id)
    if not done:
        snapshot_commit(
            spark.createDataFrame(
                [tuple(row.values())], _LEDGER_SCHEMA
            ),
            f"{store}/{_T_LEDGER}",
            mode="append",
            tag=f"batch:{batch_id}",
        )
    return row


def curate_ingest_stream(
    docs: DataFrame,
    store: str,
    checkpoint_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    available_now: bool = True,
    **curate_kwargs,
):
    """Continuous full-pipeline curation: each micro-batch is
    boilerplate-stripped, span-deduped, quality-gated and near-dup
    deduped against the published corpus; only clean survivors land.
    ``curate_kwargs`` forward to :func:`curate_ingest_batch`.  Returns
    the StreamingQuery."""

    # bloom decontam sizing is a function of the FIXED eval set: size
    # the filter ONCE at stream setup, not per micro-batch (unsized, the
    # batch function would re-count the whole eval shingle set on every
    # trigger — an O(eval-set) job repeated forever; round-9 review)
    if (
        curate_kwargs.get("eval_docs") is not None
        and curate_kwargs.get("decontam_method") == "bloom"
        and curate_kwargs.get("bloom_m_bits") is None
    ):
        from ros_sql_spark.operators.dedup import shingle_hashes

        ev = curate_kwargs["eval_docs"]
        n_ev = (
            shingle_hashes(
                ev, id_col, text_col, curate_kwargs.get("decontam_k", 5)
            )
            .select(F.explode_outer("_hs").alias("s"))
            .filter(F.col("s").isNotNull())
            .distinct()
            .count()
        )
        curate_kwargs["bloom_m_bits"] = max(
            64, ((20 * max(n_ev, 1) + 63) // 64) * 64
        )

    def body(df: DataFrame, batch_id: int) -> None:
        curate_ingest_batch(
            df, batch_id, store, id_col, text_col, **curate_kwargs
        )

    from ros_sql_spark.streaming.util import start_foreach_batch

    return start_foreach_batch(docs, body, checkpoint_path, available_now)


def curate_ledger_read(spark: SparkSession, store: str) -> DataFrame:
    """The per-batch curation ledger as of now: one row per ingested
    batch with per-stage drop counts.  Invariants (asserted in tests):
    per row n_batch == sum of stage drops + n_kept; across rows
    sum(n_kept) == rows of :func:`setsim_corpus_read`."""
    return snapshot_read(spark, f"{store}/{_T_LEDGER}")


def curate_mix_read(
    spark: SparkSession, store: str, id_col: str = "doc_id"
) -> DataFrame:
    """The training MIX as of now: the published corpus restricted to
    the docs the streaming mixture stage admitted (docs ∩ mix), plus
    each doc's source and budgeted token count — the streaming twin of
    batch ``curate(budgets=...)``'s output frame.  Per-source spend =
    ``sum(n_tok)`` grouped on source; the running balance every batch
    spent against is this aggregate at the pre-batch version."""
    mix = snapshot_read(spark, f"{store}/{_T_MIX}")
    return setsim_corpus_read(spark, store).join(
        mix.select(id_col, "source", "n_tok"), id_col
    )


def curate_corpus_read(spark: SparkSession, store: str) -> DataFrame:
    """The curated corpus as of now (snapshot isolation) — alias of
    the dedup-store reader; the docs table holds the CLEANED text
    (post boilerplate/span rebuild), exactly what batch curate()'s
    ``docs`` frame carries."""
    return setsim_corpus_read(spark, store)
