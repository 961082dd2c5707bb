"""End-to-end corpus curation: the training-data pipeline as ONE call.

``curate`` composes the engine's cleaning operators in the order a
production pretraining pipeline runs them (SURVEY.md §2.3 families
q21/q25/q26+q15/q20, each individually oracle-backed):

    quality gate  ->  exact dedup  ->  near-dup cluster + keep-best
                  ->  (optional) embedding-cosine semantic dedup
                  ->  (optional) eval-set decontamination

Everything stays lazy — the result is a set of DataFrames the caller
can count, write, or feed onward; no stage collects.  Per-stage drop
frames give the row-accounting audit trail every curation run owes its
operators ("where did my tokens go").

Scale shape (100 TB):
- quality is a pure projection (no shuffle);
- exact dedup shuffles one 128-bit digest per doc;
- near-dup is the banded-LSH candidate join (never all-pairs) feeding
  min-label connected components (diameter-bounded rounds), and the
  per-cluster survivor is the same partial-aggregable argmax as q33;
- decontamination broadcasts the (small) eval shingle-hash set and
  probes with a semi join — the corpus side never shuffles; when the
  eval set is itself too big to broadcast, ``decontam_method="bloom"``
  probes a fixed-size Bloom word table instead (operators/bloom.py:
  exact on contamination, ~1e-4 over-drop).

Reference parity: strawlab/ros_sql has no corpus tooling; this is the
engine-extension surface built on the same operator substrate the
declared suite verifies.
"""

from __future__ import annotations

import logging
from dataclasses import dataclass, field

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation

__all__ = ["CurationResult", "curate", "publish_curated"]

_log = logging.getLogger(__name__)

# Declared metric-column order per observation — the fallback contract
# for _obs_values.
_OBS_FIELDS = {
    "boilerplate": ["n_dropped"],
    "span_dedup": ["n_dropped"],
    "quality": ["n_in", "n_kept"],
    "exact": ["n_kept"],
    "near_dup": ["n_dropped"],
    "semantic_dup": ["n_dropped"],
    "decontam": ["n_dropped"],
    "mixture": ["n_dropped"],
    "survivors": ["n"],
}


def _obs_values(
    obs: Observation,
    names: list[str],
    fallback,
    stage: str = "?",
    expect_fallback: bool = False,
) -> dict:
    """``Observation.get`` hardened against three listener quirks seen
    in the wild (plain session, CollectMetrics off the survivors'
    lineage, CollectMetrics under a broadcast exchange):

    - the observation NEVER FIRED: its frame is not in any executed
      plan (e.g. a dropped-ids anti-join the caller hasn't touched).
      ``Observation.get`` BLOCKS FOREVER on the unfilled promise, so
      probe ``future().isCompleted()`` first and recompute via
      ``fallback()`` — a bounded count of the very frame the metric
      described (which also happens to fire the observation);
    - the JVM metrics row comes back WITHOUT a schema, and PySpark's
      accessor asserts ``GenericRowWithSchema`` — the metric names and
      their order are OURS (declared at ``observe()`` time), so
      positional extraction is exact;
    - the row comes back EMPTY: the observation was latched by an
      execution whose plan contained the node but whose tasks never ran
      it (broadcast-side materialization), locking out the real values
      ("only the first action" semantics) — fallback again.
    """
    def _fb(reason: str) -> dict:
        # the fallback recount is one extra Spark job per engaged stage
        # — correct but O(stages) jobs if the observation wiring ever
        # regresses, so make every UNEXPECTED engagement visible.
        # ``expect_fallback`` marks the stages whose drop frame is an
        # anti-join OFF the survivors' lineage (boilerplate/span_dedup):
        # for those the recount IS the normal fill path, not a wiring
        # regression, and a warning would cry wolf on every run.
        if not expect_fallback:
            _log.warning(
                "curation metrics: observation %r fell back to a recount "
                "job (%s) — expected at most for untouched dropped-frames, "
                "never on the standard curate() path",
                stage,
                reason,
            )
        return fallback()

    try:
        fired = obs._jo.future().isCompleted()
    except Exception:
        # probe unavailable (private API moved): obs.get would BLOCK
        # FOREVER on an observation whose plan never executed — the
        # recount fallback is always safe, never hanging (round-8
        # review: the old pass-through fell into obs.get)
        return _fb("fired-probe unavailable")
    if not fired:
        return _fb("never fired")
    try:
        return obs.get
    except Exception:
        jrow = obs._jo.getRow()
        if jrow.length() >= len(names):
            return {n: jrow.get(i) for i, n in enumerate(names)}
        return _fb("empty metrics row")


@dataclass
class CurationResult:
    """Lazy curation output: surviving docs + per-stage dropped ids."""

    docs: DataFrame
    dropped: dict[str, DataFrame] = field(default_factory=dict)
    _obs: dict[str, tuple[Observation, object]] = field(
        default_factory=dict, repr=False
    )
    _metrics: dict[str, int] | None = field(default=None, repr=False)

    def metrics(self) -> dict[str, int]:
        """Single-pass row accounting via CollectMetrics observations.

        Every stage boundary sits in the survivors' lineage (filter
        input, dedup-keep build side, per-stage anti-join build side),
        so ONE action over ``docs`` fills every counter — versus one
        ``count()`` job per stage the naive way.  In practice most
        observations are already filled before the caller ever acts:
        connected-components' internal convergence jobs execute the
        upstream plan, and Spark reports a CollectMetrics node's
        values from whichever action evaluates it first (the values
        are a function of the node, not the action).

        Returns ``{"input", "kept", <one key per dropped stage>}``;
        cached after the first call.
        """
        if self._metrics is None:
            self.docs.count()  # fills any observation not yet fired
            o = {
                k: {
                    mk: (mv if mv is not None else 0)
                    for mk, mv in _obs_values(
                        v,
                        _OBS_FIELDS[k],
                        fb,
                        stage=k,
                        expect_fallback=k in ("boilerplate", "span_dedup"),
                    ).items()
                }
                for k, (v, fb) in self._obs.items()
            }
            m = {
                "input": o["quality"]["n_in"],
                "quality": o["quality"]["n_in"] - o["quality"]["n_kept"],
                "exact": o["quality"]["n_kept"] - o["exact"]["n_kept"],
                "kept": o["survivors"]["n"],
            }
            if "boilerplate" in o:
                # quality's n_in counts POST-boilerplate docs; the true
                # input adds the fully-boilerplate drops
                m["boilerplate"] = o["boilerplate"]["n_dropped"]
                m["input"] += m["boilerplate"]
            if "span_dedup" in o:
                # same accounting: fully-duplicated docs dropped before
                # the quality gate ever counted them
                m["span_dedup"] = o["span_dedup"]["n_dropped"]
                m["input"] += m["span_dedup"]
            for stage in ("near_dup", "semantic_dup", "decontam", "mixture"):
                if stage in o:
                    m[stage] = o[stage]["n_dropped"]
            self._metrics = m
        return self._metrics


def curate(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    min_tokens: int = 10,
    max_punct_ratio: float = 0.25,
    min_stopword_ratio: float = 0.015,
    near_dup_threshold: float | None = 0.5,
    near_dup_method: str = "minhash",
    setsim_base_index: tuple[DataFrame, DataFrame, DataFrame] | None = None,
    shingle_k: int = 3,
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
    boilerplate_max_df: int | None = None,
    boilerplate_passage_tokens: int = 10,
    span_dedup_k: int | None = None,
    span_min_docs: int = 3,
) -> CurationResult:
    """Run the full cleaning pipeline over a document corpus.

    Stages (each stage sees only the previous stage's survivors):

    0. **boilerplate** (only when ``boilerplate_max_df`` is given):
       q85 semantics — passages repeated across more than
       ``boilerplate_max_df`` docs are stripped and each doc rebuilt
       from its surviving passages BEFORE any gating (the CCNet
       ordering: chrome removal first, so headers neither poison the
       quality features nor fabricate near-dup edges).  Docs whose
       every passage is boilerplate are dropped here.
    0b. **span_dedup** (only when ``span_dedup_k`` is given):
       substring-level exact dedup — any ``span_dedup_k``-token run
       appearing in ``span_min_docs``+ distinct documents is excised
       corpus-wide and docs rebuilt from surviving tokens
       (``operators/dedup.py::remove_duplicate_spans``).  Runs before
       gating for the same reason as boilerplate: shared spans
       fabricate near-dup edges and skew the quality features.  Docs
       that were wall-to-wall duplicated spans drop here.
    1. **quality**: C4/Gopher-style gate on token count, punctuation
       ratio and stopword ratio (q21 thresholds; comparisons on rounded
       features, so the decision is reproducible).
    2. **exact**: one survivor per exact content digest — lowest id
       wins (q25 semantics).
    3. **near_dup** (skipped when ``near_dup_threshold`` is None):
       candidate pairs at ``near_dup_threshold`` -> connected
       components -> per cluster keep the longest text, id as tiebreak
       (q26/q15/q33 semantics).  ``near_dup_method`` picks the pair
       source: ``"minhash"`` (banded LSH estimates, the default) or
       ``"setsim"`` (the EXACT prefix-filtered Jaccard join —
       ``operators/dedup.py::setsim_join``).  With ``"setsim"`` an
       optional ``setsim_base_index`` (:func:`setsim_index` frames of
       an already-curated corpus) switches the stage to the INGEST
       shape: pairs come from :func:`setsim_join_incremental`
       ((new × base) ∪ (new × new), never base × base), any new doc
       whose duplicate cluster touches a base doc drops (the published
       corpus wins), and purely-new clusters keep best as usual.
       ``None`` yields a fully DETERMINISTIC-SQL-replayable composition
       (every remaining stage has an exact oracle idiom — qx06 gates
       exactly that).
    4. **semantic_dup** (only when ``embeddings`` is given — (id,
       vector) keyed by ``embedding_id_col`` matching ``id_col``
       values): embedding-cosine near-dups at ``cosine_threshold`` via
       banded hyperplane LSH (q68's scalable twin), clustered and
       survivor-picked with the same components/argmax machinery as
       stage 3 — catches paraphrase-level duplicates the token shingles
       miss.
    5. **decontam** (only when ``eval_docs`` is given): drop any
       survivor sharing a ``decontam_k``-token shingle hash with the
       eval set (q20 semantics; hash membership — collisions at 2^-64
       odds).
    6. **mixture** (only when ``budgets`` is given — source value →
       token budget): keep each source's id-ordered prefix whose
       cumulative token count fits its budget, and drop unlisted
       sources (q83 semantics — the "data mixture" cut that turns a
       clean corpus into a training mix).  ``budget_token_col``: a
       Column/str token count; defaults to the BPE-ish tokenizer over
       ``text_col``.  NB: ``docs`` must carry ``budget_source_col``.

    Returns a :class:`CurationResult` whose ``dropped`` maps each stage
    name to the dropped ``id_col`` frame — disjoint by construction,
    and together with ``docs`` they partition the input ids (asserted
    in tests).
    """
    from ros_sql_spark.functions.text import punct_ratio, stopword_ratio, tokens
    from ros_sql_spark.operators.dedup import (
        connected_components,
        minhash_pairs,
        shingle_hashes,
    )

    ids = F.col(id_col)
    dropped: dict[str, DataFrame] = {}
    obs: dict[str, tuple[Observation, object]] = {}

    # the mixture stage needs the source column to survive the pipeline
    carry = [budget_source_col] if budgets is not None else []

    # the quality gate re-tokenizes whatever text reaches it UNLESS a
    # prior stage already carries the equivalent token array (round-15:
    # remove_boilerplate's rebuild IS a token join, so its tokens ride
    # along for free and the gate skips a full re-split)
    tok_carry: str | None = None

    # 0. optional boilerplate strip (q85) — BEFORE gating, so chrome
    #    neither poisons quality features nor fabricates near-dup edges
    if boilerplate_max_df is not None:
        from ros_sql_spark.operators.dedup import remove_boilerplate

        cleaned = remove_boilerplate(
            docs.select(id_col, text_col),
            id_col=id_col,
            text_col=text_col,
            passage_tokens=boilerplate_passage_tokens,
            max_doc_freq=boilerplate_max_df,
            tokens_out="_bp_toks",
        )
        tok_carry = "_bp_toks"
        _ob_b = Observation()
        bp_dropped = (
            docs.select(id_col)
            .join(cleaned.select(id_col), id_col, "left_anti")
            .observe(_ob_b, F.count(F.lit(1)).alias("n_dropped"))
        )
        dropped["boilerplate"] = bp_dropped
        # the boilerplate drop is NOT in the survivors' lineage (it is
        # an anti-join of the ORIGINAL against the cleaned set), so the
        # fallback count is the normal fill path here
        obs["boilerplate"] = (
            _ob_b,
            lambda: {"n_dropped": dropped["boilerplate"].count()},
        )
        if carry:
            cleaned = cleaned.join(
                docs.select(id_col, *carry), id_col
            )
        docs = cleaned

    # 0b. optional substring-level exact dedup — duplicated k-token
    #     spans excised corpus-wide before gating (shared spans
    #     fabricate near-dup edges and skew quality features)
    if span_dedup_k is not None:
        from ros_sql_spark.operators.dedup import remove_duplicate_spans

        # persist_windows=False: curate()'s output is consumed across
        # many later actions with no release point — an unreleased
        # window cache would leak; recompute keeps the stage lazy/clean
        despanned = remove_duplicate_spans(
            docs.select(id_col, text_col),
            id_col=id_col,
            text_col=text_col,
            k=span_dedup_k,
            min_docs=span_min_docs,
            persist_windows=False,
        )
        _ob_sp = Observation()
        sp_dropped = (
            docs.select(id_col)
            .join(despanned.select(id_col), id_col, "left_anti")
            .observe(_ob_sp, F.count(F.lit(1)).alias("n_dropped"))
        )
        dropped["span_dedup"] = sp_dropped
        # like boilerplate: the drop frame is not in the survivors'
        # lineage, so the fallback count is the normal fill path
        obs["span_dedup"] = (
            _ob_sp,
            lambda: {"n_dropped": dropped["span_dedup"].count()},
        )
        if carry:
            despanned = despanned.join(docs.select(id_col, *carry), id_col)
        docs = despanned
        # span excision rebuilds text without a token carry
        tok_carry = None

    # 1. quality gate — pure projection, no shuffle; reuse a prior
    # stage's carried token array when one exists (tokenize(text) ==
    # the carried array by construction — see remove_boilerplate)
    feats = docs.select(
        id_col,
        text_col,
        *carry,
        (
            F.col(tok_carry) if tok_carry is not None
            else tokens(text_col)
        ).alias("_toks"),
    ).select(
        id_col,
        text_col,
        *carry,
        F.size("_toks").cast("bigint").alias("_n_tok"),
        F.round(punct_ratio(text_col), 6).alias("_punct"),
        F.round(stopword_ratio("_toks", "en"), 6).alias("_stop"),
    )
    keep = (
        (F.col("_n_tok") >= min_tokens)
        & (F.col("_punct") < max_punct_ratio)
        & (F.col("_stop") > min_stopword_ratio)
    )
    # CollectMetrics at each stage boundary: free row accounting riding
    # whatever action evaluates the plan (see CurationResult.metrics).
    _ob_q = Observation()
    feats = feats.observe(
        _ob_q,
        F.count(F.lit(1)).alias("n_in"),
        F.sum(keep.cast("long")).alias("n_kept"),
    )
    dropped["quality"] = feats.filter(~keep).select(id_col)
    cur = feats.filter(keep).select(id_col, text_col, *carry)

    # 2. exact dedup — one survivor (min id) per 128-bit digest, with
    # ONE reference to `cur`: grouping the full row by the digest and
    # taking min(struct(id, text, carry...)) replaces the round-1..15
    # groupBy+left-semi pair, whose TWO references to `cur` re-ran the
    # whole boilerplate→quality subtree per evaluation (qx06's static
    # plan carried SIX documents scans; runtime AQE exchange reuse only
    # dedups the exchange-topped census subtrees, so the tokenize/
    # rebuild/quality projections still ran twice — r15 A/B: qx06 solo
    # 2.02 → 1.38 s, qx26 4.40 → 3.86 s min-of-3).  Every text in a
    # digest group is identical (the digest IS the text hash), so
    # min(struct) with id leading == the min-id row exactly.  The
    # digest exchange now carries text once — the old shape's SMJ
    # probe shuffled (id, text) anyway, on top of the duplicate
    # pipeline run.  OBSERVATION SAFETY (the window-min draft of this
    # same fusion was reverted for latching _ob_e to zero): _ob_q now
    # sits below the digest exchange, and _ob_e — which would land at
    # the TOP of the stage-3 lazy checkpoint's plan — is protected by
    # the repartition(id) exchange added at the checkpoint (below).
    # When near_dup is off there is no checkpoint and a plain action
    # fills final-stage metrics normally.
    h = F.md5(F.col(text_col).cast("binary"))
    _ob_e = Observation()
    pre_exact = cur
    exact_out = (
        cur.groupBy(h.alias("_h"))
        .agg(
            F.min(
                F.struct(F.col(id_col), F.col(text_col), *map(F.col, carry))
            ).alias("_s")
        )
        .select(
            *[F.col(f"_s.{c}").alias(c) for c in (id_col, text_col, *carry)]
        )
        .observe(_ob_e, F.count(F.lit(1)).alias("n_kept"))
    )
    dropped["exact"] = pre_exact.select(id_col).join(
        exact_out.select(id_col), id_col, "left_anti"
    )
    cur = exact_out

    # 3. near-dup: candidate pairs -> components -> keep-best argmax (q33)
    if setsim_base_index is not None and (
        near_dup_method != "setsim" or near_dup_threshold is None
    ):
        # silently ignoring the base index would curate an ingest batch
        # WITHOUT comparing it to the published corpus — exact twins of
        # already-published docs would sail through
        raise ValueError(
            "setsim_base_index requires near_dup_method='setsim' and a "
            f"non-None near_dup_threshold (got method={near_dup_method!r}, "
            f"threshold={near_dup_threshold!r})"
        )
    _ob_n = None
    if near_dup_threshold is not None:
        # the near-dup machinery consumes `cur` across SEVERAL separate
        # actions (the pair operator's internal build, the components
        # convergence loop, and the caller's final action re-deriving
        # members/best/survivors) — without a checkpoint the whole
        # boilerplate→quality→exact subtree re-evaluates once per
        # consumer (CLAUDE.md's several-separate-actions rule; measured
        # on qx26 at sf0.1: 11.7→6.9s solo min-of-3).  Lazy, so the
        # first consumer materializes it; the upstream CollectMetrics
        # observations fire exactly once, at that materialization.
        # repartition(id) BEFORE the pin is load-bearing twice over:
        # (a) it is the exchange that keeps _ob_e's CollectMetrics off
        # the TOP of the checkpointed plan (the latched-zero hazard —
        # the r15 window-min draft was reverted for exactly this), and
        # (b) the materialized LogicalRDD carries hash(id)
        # partitioning, so the members/near_dropped/final-anti id-joins
        # downstream read the pin co-partitioned at runtime
        # (CLAUDE.md's pinned-repartition rule; id is the final
        # attribute of the exact stage's struct extraction).
        cur = cur.repartition(id_col).localCheckpoint(eager=False)
        if near_dup_method == "setsim":
            from ros_sql_spark.operators.dedup import (
                setsim_join,
                setsim_join_incremental,
            )

            if setsim_base_index is not None:
                pairs = setsim_join_incremental(
                    cur, setsim_base_index, id_col=id_col,
                    text_col=text_col, k=shingle_k,
                    threshold=near_dup_threshold,
                )
            else:
                pairs = setsim_join(
                    cur, id_col=id_col, text_col=text_col,
                    threshold=near_dup_threshold, k=shingle_k,
                )
        elif near_dup_method == "minhash":
            pairs = minhash_pairs(
                cur, id_col=id_col, text_col=text_col,
                k=shingle_k, threshold=near_dup_threshold,
            )
        else:
            raise ValueError(
                f"near_dup_method must be 'minhash' or 'setsim', "
                f"got {near_dup_method!r}"
            )
        comp = connected_components(pairs, id_col=id_col)
        # components eagerly checkpointed the edges — an operator-owned
        # signature cache (minhash) is dead weight from here on
        if hasattr(pairs, "_rosql_cached"):
            pairs._rosql_cached.unpersist()
        members = comp.join(
            cur.select(id_col, text_col), id_col, "left"
        )
        if setsim_base_index is not None:
            # ingest shape: clusters touching the published base (any
            # member NOT in this batch — its text null-extends above)
            # surrender every batch member; purely-new clusters keep
            # best.  Base docs themselves are not candidates to drop —
            # they are not rows of `cur`.
            # no distinct(): the anti join below has at-most-once match
            # semantics already (CLAUDE.md's measured semi/anti lesson)
            base_comps = members.filter(F.col(text_col).isNull()).select(
                "component"
            )
            members = members.filter(F.col(text_col).isNotNull()).join(
                base_comps, "component", "left_anti"
            )
        best = (
            members.groupBy("component")
            .agg(
                F.max(
                    F.struct(
                        F.length(text_col).alias("len"), (-ids).alias("negid")
                    )
                ).alias("s")
            )
            .select((-F.col("s.negid")).alias(id_col))
        )
        _ob_n = Observation()
        near_dropped = (
            comp.select(id_col)
            .join(cur.select(id_col), id_col, "left_semi")
            .join(best, id_col, "left_anti")
            .observe(_ob_n, F.count(F.lit(1)).alias("n_dropped"))
        )
        dropped["near_dup"] = near_dropped
        # SHUFFLE_HASH on the drop list (round-16): the anti's build
        # side is the near-dup drops (≤ cluster members), the probe the
        # pinned corpus — SMJ sorted the corpus side per consumer; the
        # per-partition hash build skips it (AQE sizes partitions)
        cur = cur.join(
            near_dropped.hint("shuffle_hash"), id_col, "left_anti"
        )

    # 4. optional embedding-cosine near-dup (paraphrase-level): LSH
    #    pairs over the survivors' vectors, same components + argmax
    if embeddings is not None:
        from ros_sql_spark.operators.similarity import cosine_dedup_pairs_lsh

        vecs = embeddings.select(
            F.col(embedding_id_col).alias(id_col),
            F.col(embedding_col).alias("_vec"),
        ).join(cur.select(id_col), id_col, "left_semi")
        vec_pairs = cosine_dedup_pairs_lsh(
            vecs,
            threshold=cosine_threshold,
            dim=embedding_dim,
            id_col=id_col,
            vec_col="_vec",
        )
        vcomp = connected_components(
            vec_pairs.select("id_a", "id_b"), id_col=id_col
        )
        vec_pairs._rosql_cached.unpersist()
        vbest = (
            vcomp.join(cur, id_col)
            .groupBy("component")
            .agg(
                F.max(
                    F.struct(
                        F.length(text_col).alias("len"), (-ids).alias("negid")
                    )
                ).alias("s")
            )
            .select((-F.col("s.negid")).alias(id_col))
        )
        _ob_s = Observation()
        sem_dropped = (
            vcomp.select(id_col)
            .join(vbest, id_col, "left_anti")
            .observe(
                _ob_s, F.count(F.lit(1)).alias("n_dropped")
            )
        )
        dropped["semantic_dup"] = sem_dropped
        obs["semantic_dup"] = (
            _ob_s,
            lambda: {"n_dropped": dropped["semantic_dup"].count()},
        )
        cur = cur.join(sem_dropped, id_col, "left_anti")

    # 5. optional eval-set decontamination (q20): broadcast semi probe,
    # or a Bloom filter over the eval shingles when the eval set is too
    # big to broadcast (decontam_method="bloom"; exact → no false
    # negatives, ~FP-rate over-dropping — operators/bloom.py)
    if eval_docs is not None:
        if decontam_method not in ("broadcast", "bloom"):
            raise ValueError(f"decontam_method={decontam_method!r}")
        eval_sh = (
            shingle_hashes(eval_docs, id_col, text_col, decontam_k)
            .select(F.explode_outer("_hs").alias("s"))
            .filter(F.col("s").isNotNull())
            .distinct()
        )
        cur_sh = shingle_hashes(cur, id_col, text_col, decontam_k).select(
            id_col, F.explode_outer("_hs").alias("s")
        )
        _ob_d = Observation()
        if decontam_method == "bloom":
            from ros_sql_spark.operators.bloom import bloom_contaminated_ids

            if bloom_m_bits is None:
                # the one eager job in curate(): sizing the filter needs
                # the eval-shingle count (pass bloom_m_bits to stay lazy)
                n_ev = eval_sh.count()
                bloom_m_bits = max(64, ((20 * max(n_ev, 1) + 63) // 64) * 64)
            contaminated = bloom_contaminated_ids(
                eval_sh, cur_sh, id_col, "s", bloom_m_bits
            ).observe(_ob_d, F.count(F.lit(1)).alias("n_dropped"))
        else:
            contaminated = (
                cur_sh.join(F.broadcast(eval_sh), "s", "left_semi")
                .select(id_col)
                .distinct()
                .observe(_ob_d, F.count(F.lit(1)).alias("n_dropped"))
            )
        dropped["decontam"] = contaminated
        obs["decontam"] = (
            _ob_d,
            lambda: {"n_dropped": dropped["decontam"].count()},
        )
        cur = cur.join(contaminated, id_col, "left_anti")

    # 6. optional token-budget mixture (q83): per-source prefix cut
    if budgets is not None:
        from ros_sql_spark.functions.text import token_count_bpe
        from ros_sql_spark.operators.sampling import token_budget_mix

        tok = (
            budget_token_col
            if budget_token_col is not None
            else token_count_bpe(text_col)
        )
        mix_keep = token_budget_mix(
            cur,
            budgets,
            token_col=tok,
            source_col=budget_source_col,
            id_col=id_col,
        ).select(id_col)
        _ob_m = Observation()
        mix_dropped = (
            cur.select(id_col)
            .join(mix_keep, id_col, "left_anti")
            .observe(_ob_m, F.count(F.lit(1)).alias("n_dropped"))
        )
        dropped["mixture"] = mix_dropped
        obs["mixture"] = (
            _ob_m,
            lambda: {"n_dropped": dropped["mixture"].count()},
        )
        cur = cur.join(mix_dropped, id_col, "left_anti")

    _ob_v = Observation()
    cur = cur.observe(_ob_v, F.count(F.lit(1)).alias("n"))
    final = cur
    obs["quality"] = (
        _ob_q,
        lambda: {
            "n_in": docs.count(),
            "n_kept": docs.count() - dropped["quality"].count(),
        },
    )
    obs["exact"] = (_ob_e, lambda: {"n_kept": exact_out.count()})
    if _ob_n is not None:
        obs["near_dup"] = (
            _ob_n,
            lambda: {"n_dropped": dropped["near_dup"].count()},
        )
    obs["survivors"] = (_ob_v, lambda: {"n": final.count()})
    return CurationResult(docs=cur, dropped=dropped, _obs=obs)


def publish_curated(
    result: CurationResult,
    table: str,
    id_col: str = "doc_id",
    cluster_files: int | None = None,
) -> int:
    """Land a curation run in a snapshot table — the pipeline's
    production exit: readers see the whole curated corpus or none of it
    (atomic manifest publish), every run stays readable as a version
    (time travel across curation recipes), and per-file ``id_col`` min/max stats make downstream
    id-range reads and :func:`~ros_sql_spark.sources.snapshot.snapshot_merge`
    upserts file-prunable.

    ``cluster_files``: range-cluster the output on ``id_col`` into this
    many files (tight per-file id ranges — what turns the stats into
    actual skipping).  The survivors are PERSISTED around the clustered
    write: repartitionByRange runs a range-boundary SAMPLING job over
    its child first, which would both re-run the whole curation
    pipeline and double-fire its CollectMetrics observations (counts
    2×, measured) — the cache makes the sample and the write share one
    evaluation, so a following ``result.metrics()`` is correct and
    costs no extra jobs.  Returns the version.
    """
    from ros_sql_spark.sources.snapshot import snapshot_commit

    df = result.docs
    cached = None
    if cluster_files:
        cached = result.docs.persist()
        df = cached.repartitionByRange(
            cluster_files, F.col(id_col)
        ).sortWithinPartitions(id_col)
    try:
        return snapshot_commit(df, table, stats_cols=[id_col])
    finally:
        if cached is not None:
            cached.unpersist()
