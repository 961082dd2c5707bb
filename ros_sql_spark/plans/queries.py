"""The declared query suite (SURVEY.md §2.3) — Spark implementations.

Each ``qNN_*`` takes ``(spark, sf_dir)`` and returns a lazy DataFrame.
Every computed column is aliased to the exact name used by the matching
DuckDB oracle in ros_sql_spark.plans.oracles (the driver's value-hash
sorts columns by name).

Reference parity map (strawlab/ros_sql capability each query exercises)
is given per-function; R-numbers refer to SURVEY.md §2.1.

Scale discipline:
- filters/projections first, so Catalyst pushes them into the parquet scan;
- dimension joins (region/nation/customer at TPC-H scale) use
  ``F.broadcast`` hints;
- money aggregates go through DECIMAL(18,2) (exact + associative —
  partition-order independent, see functions/parity.py);
- no collect(), no Python row loops, no row-at-a-time UDFs anywhere.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.window import Window

from ros_sql_spark.functions.parity import DECIMAL_MONEY, disc_price, money, r6, tus
from ros_sql_spark.sources.io import load_table

__all__ = ["QUERIES"]


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# --------------------------------------------------------------------------
# Scan / projection / time handling (reference R7/R8/R12/R13/R14 twins)
# --------------------------------------------------------------------------

def q01_scan_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan + projection (R12→R7 batch twin). Column pruning reaches the
    parquet scan — ReadSchema carries only the four columns."""
    return _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )


def q02_time_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R8 secs/nsecs time split, µs-truncated for oracle parity.

    Integer `div` throughout — ns epochs overflow double's mantissa."""
    ev = _t(spark, sf_dir, "events")
    us = tus("ts_ns")
    return ev.select(
        "event_id",
        F.expr("(ts_ns div 1000) div 1000000").alias("secs"),
        (us % F.lit(1000000)).alias("usecs"),
    )


def q03_time_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R14 time-range partial replay.

    Range selection happens AT THE SOURCE (load_events(ns_range=...)):
    the loader rewrites the ns bounds onto the physical stored column in
    the file's own time unit, so the predicate shows up in PushedFilters
    and prunes row groups via min/max stats.  A filter on the derived
    ts_ns arithmetic column could never be pushed (verified: pushdown
    broke when the testdata switched TIMESTAMP(NANOS)→timestamp[us] and
    ts_ns became ts*1000)."""
    import datetime as _dt

    from ros_sql_spark.sources.io import load_events

    lo = int(_dt.datetime(2024, 1, 10, tzinfo=_dt.timezone.utc).timestamp()) * 10**9
    hi = int(_dt.datetime(2024, 1, 20, tzinfo=_dt.timezone.utc).timestamp()) * 10**9
    return load_events(spark, sf_dir, ns_range=(lo, hi)).select(
        "event_id", "event_type", "value"
    )


def q04_ordered_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R13 ordered replay head: first 50 messages in (time, id) order.
    Ordering uses the µs-floored key (tus) + event_id: the DuckDB oracle
    only sees µs-truncated TIMESTAMP(NANOS), so any same-µs pair must
    tie-break on event_id in BOTH engines (ns-ordering would diverge on
    a same-µs collision).  Spark still executes this as a TakeOrdered
    (top-k per partition + merge), not a full sort."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.select("event_id", tus("ts_ns").alias("tus"))
        .orderBy("tus", "event_id")
        .limit(50)
    )


def q05_topic_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R12 demux-by-topic twin: hash aggregate per event_type.
    Partial (map-side) aggregation is automatic; avg is rounded per the
    float parity rule."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n"), r6(F.avg("value")).alias("avg_value")
    )


# --------------------------------------------------------------------------
# Shredding / reassembly (reference R1/R4/R5/R10/R11 twins)
# --------------------------------------------------------------------------

def q06_array_shred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R5 array shredding: posexplode keeps the element index, exactly as
    the reference's child tables carry (parent_id, idx, value)."""
    emb = _t(spark, sf_dir, "embeddings")
    return (
        emb.filter(F.col("vec_id") < 50)
        .select("vec_id", F.posexplode("embedding").alias("idx", "val"))
        .select(
            "vec_id",
            F.col("idx").cast("bigint").alias("idx"),
            r6(F.col("val").cast("double")).alias("val"),
        )
    )


def q07_child_reassemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R11 reassembly statistics: one shuffle join + aggregate replaces the
    reference's N+1 per-parent child SELECTs (SURVEY.md §4.1)."""
    orders = _t(spark, sf_dir, "orders").select("o_orderkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    # Aggregate BEFORE the join: the per-order rollup shrinks the lineitem
    # side ~4× ahead of the shuffle join, and inner-join semantics are
    # preserved (groups without a parent order drop, orders without items
    # drop — identical to join-then-group).
    # Exact DECIMAL(18,2) math INSIDE the aggregate; the driver-visible
    # output is cast to DOUBLE (lossless here — 2-dp values ≪ 2⁵³) so both
    # engines' pandas canonicalization renders identically ("26.0", never
    # Decimal("26.00") vs float 26.0 — the round-1 q07/q11/q79 hash gap).
    per_order = li.groupBy("l_orderkey").agg(
        F.count("*").alias("n_items"),
        F.sum(money("l_quantity")).cast("double").alias("total_qty"),
    )
    return orders.join(
        per_order, orders.o_orderkey == per_order.l_orderkey, "inner"
    ).select("o_orderkey", "n_items", "total_qty")


def q08_fk_join_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R10/R11 FK-graph walk: customer→nation→region. Both dimensions are
    broadcast — no shuffle of the fact side at any scale."""
    cust = _t(spark, sf_dir, "customer").select("c_nationkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    region = _t(spark, sf_dir, "region").select("r_regionkey", "r_name")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.count("*").alias("n_cust"))
    )


def q09_blob_fidelity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R6 blob passthrough fidelity proxy: content digest must be identical
    across engines (the reference's contract is byte-identical replay)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.md5(F.col("text").cast("binary")).alias("text_md5")
    )


def q51_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map/JSON scalar extraction (not in the ROS model; engine extension).
    Same regex on both engines so '' vs NULL edge cases align."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.regexp_extract("props", r'"k": (\d+)', 1).cast("bigint").alias("k"),
    )


# --------------------------------------------------------------------------
# Aggregation / windows / sort (delegated by the reference to its SQL
# backend — SURVEY.md §2.2; first-class here)
# --------------------------------------------------------------------------

def q11_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape — the flagship. Filter pushed to scan; DECIMAL(18,2)
    casts *before* arithmetic make the aggregation exact.

    Round-15 (the qx61 two-level idiom, guide §1.2/§2.5): the per-row
    Decimal128 sums were the measured per-task cost, so each sum runs
    as cents/1e-4-unit BIGINT partials per (flag, status, input
    partition) — bounded far under 2⁶³ by rows-per-task (see qx61's
    margin arithmetic) — then an exact DECIMAL(38,0) merge with an
    exact decimal descale (×0.01 / ×0.0001: scale shift only), so each
    output is the SAME rational number the direct decimal sums produce
    and the final double casts round once, identically.  Interleaved
    A/B min-of-6: 0.85 → 0.72 s solo; values bit-identical, oracle
    (plain decimal sums) parity green."""
    from ros_sql_spark.functions.util import assert_bigint_partial_margin

    # per-row max term: disc_price*1e4 < 2e9 (extendedprice < 1.1e5);
    # the guard fails loudly if maxPartitionBytes drifts far enough to
    # void the rows-per-task bound (round-15 ADVICE)
    assert_bigint_partial_margin(spark, per_row_max=2 * 10**9, label="q11")
    li = _t(spark, sf_dir, "lineitem")
    qc = (money("l_quantity") * 100).cast("bigint")
    pc = (money("l_extendedprice") * 100).cast("bigint")
    dpc = (disc_price() * 10000).cast("bigint")  # decimal-exact product
    part = (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy(
            "l_returnflag", "l_linestatus",
            F.spark_partition_id().alias("_pid"),
        )
        .agg(
            F.sum(qc).alias("_pq"),
            F.sum(pc).alias("_pp"),
            F.sum(dpc).alias("_pdp"),
            F.count("*").alias("_pn"),
        )
    )
    d38 = lambda col: F.col(col).cast("decimal(38,0)")  # noqa: E731
    s2 = F.expr("CAST(0.01 AS DECIMAL(3,2))")
    s4 = F.expr("CAST(0.0001 AS DECIMAL(5,4))")
    return (
        part.groupBy("l_returnflag", "l_linestatus")
        .agg(
            # DOUBLE only at the output boundary (driver-canonicalization
            # parity — see q07)
            (F.sum(d38("_pq")) * s2).cast("double").alias("sum_qty"),
            (F.sum(d38("_pp")) * s2).cast("double").alias("sum_base_price"),
            (F.sum(d38("_pdp")) * s4).cast("double").alias("sum_disc_price"),
            F.sum("_pn").alias("count_order"),
        )
    )


def q54_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregation (two-phase partial dedup in Spark)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users")
    )


def q55_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping sets: ROLLUP(lang, source) with subtotal NULLs.

    Two-level (round-16, the qx42 rollup rule): aggregate to the FINE
    (lang, source) grain first, then rollup the ≤|lang·source|-row
    aggregate — Expand multiplies its input ×3, so it must never see
    the raw corpus rows (counts and integer sums re-aggregate exactly;
    coalesce keeps the count column non-nullable like count(*))."""
    docs = _t(spark, sf_dir, "documents")
    fine = docs.groupBy("lang", "source").agg(
        F.count("*").alias("_n"), F.sum("n_chars").alias("_sc")
    )
    return fine.rollup("lang", "source").agg(
        F.coalesce(F.sum("_n"), F.lit(0)).cast("bigint").alias("n"),
        F.sum("_sc").alias("sum_chars"),
    )


def q52_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking window: first event per user. Deterministic order key
    (µs-floored time, event_id) — the oracle's TIMESTAMP(NANOS) column is
    µs-truncated on read, so µs+id is the finest cross-engine-stable key
    (CLAUDE.md time invariant)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(tus("ts_ns"), F.col("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type")
    )


def q56_window_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic window: inter-event gap per user in exact µs.  Window
    ordered by the µs key itself (+id tiebreak) for oracle parity."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    us = tus("ts_ns")
    return (
        ev.select("user_id", "event_id", us.alias("us"))
        .withColumn("gap_us", F.col("us") - F.lag("us").over(w))
        .filter(F.col("gap_us").isNotNull())
        .select("user_id", "event_id", "gap_us")
    )


def q16_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (30-min gap) — the batch twin of the streaming
    session_window operator (ros_sql_spark.streaming)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    us = tus("ts_ns")
    gap = F.col("us") - F.lag("us").over(w)
    brk = F.when(gap > F.lit(1_800_000_000), 1).otherwise(0)
    return (
        ev.select("user_id", "event_id", us.alias("us"))
        .withColumn("brk", brk)
        .groupBy("user_id")
        .agg((F.lit(1) + F.sum("brk")).cast("bigint").alias("n_sessions"))
    )


def q17_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k: executes as TakeOrdered after an exact decimal aggregate."""
    orders = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    return (
        orders.groupBy(F.col("o_custkey").alias("c_custkey"))
        # exact decimal sum; DOUBLE at the output boundary (the cast is
        # order-preserving and lossless, so the top-k set is unchanged)
        .agg(F.sum(money("o_totalprice")).cast("double").alias("total_price"))
        .orderBy(F.desc("total_price"), "c_custkey")
        .limit(10)
    )


# --------------------------------------------------------------------------
# Set operations / semi-anti joins
# --------------------------------------------------------------------------

def q18_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (set semantics): purchasers who never errored."""
    ev = _t(spark, sf_dir, "events")
    purch = ev.filter(F.col("event_type") == "purchase").select("user_id")
    err = ev.filter(F.col("event_type") == "error").select("user_id")
    # subtract == EXCEPT DISTINCT (set semantics, matching the SQL oracle);
    # exceptAll would be bag semantics and leave duplicate survivors.
    return purch.subtract(err)


def q19_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join: customers having orders (EXISTS)."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    orders = _t(spark, sf_dir, "orders").select("o_custkey")
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi")


def q69_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join: customers with no orders (NOT EXISTS)."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    orders = _t(spark, sf_dir, "orders").select("o_custkey")
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")


# --------------------------------------------------------------------------
# Strings / dates / text analysis
# --------------------------------------------------------------------------

def q61_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String functions / basic text analysis on documents."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.length("text").cast("bigint").alias("n"),
        F.size(F.split("text", " ")).cast("bigint").alias("n_tok"),
    )


def q59_date_trunc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date functions: monthly order counts (cast to DATE for parity)."""
    orders = _t(spark, sf_dir, "orders")
    return orders.groupBy(
        F.date_trunc("month", "o_orderdate").cast("date").alias("m")
    ).agg(F.count("*").alias("n"))


def q60_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL with a source-tag literal."""
    ev = _t(spark, sf_dir, "events")
    click = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", F.lit("click").alias("src")
    )
    view = ev.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", F.lit("view").alias("src")
    )
    return click.unionByName(view)


def q65_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (set semantics): users who both clicked and purchased."""
    ev = _t(spark, sf_dir, "events")
    click = ev.filter(F.col("event_type") == "click").select("user_id")
    purch = ev.filter(F.col("event_type") == "purchase").select("user_id")
    return click.intersect(purch)


# --------------------------------------------------------------------------
# LLM-pipeline operators (dedup / similarity / multimodal — SURVEY.md §2.3
# q25-q30; operator-level implementations live in ros_sql_spark.operators)
# --------------------------------------------------------------------------

def q25_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: canonical doc per content hash (keep min doc_id)."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5(F.col("text").cast("binary")).alias("h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )


def q26_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash/LSH near-dup banding, VALUE-EXACT under the gate
    (round-8: formerly the suite's last in-window rows-only sketch).

    The declared query uses the md5-affine family
    (operators/dedup.py::minhash_bands_md5): base shingle hash = the
    repo's md5-prefix idiom mod P=2^31−1, family values = affine maps
    (a_i·h + b_i) mod P with md5-derived constants — every step
    portable SQL, so the DuckDB oracle rebuilds each band_hash
    bit-for-bit (the CLAUDE.md sketch parity trick; KMV/Count-Min/
    quantile already follow it).  The xxhash64 + Arrow family remains
    the production hash for the pair pipeline (minhash_pairs, the
    incremental index) where signatures never need SQL reproduction —
    backend trade-offs measured in the operator docstrings."""
    from ros_sql_spark.operators.dedup import minhash_bands_md5

    docs = _t(spark, sf_dir, "documents")
    return minhash_bands_md5(docs, id_col="doc_id", text_col="text")


def q27_knn_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k for one query vector.

    The 1-row query side is broadcast; dot/norms run as higher-order
    functions (zip_with + aggregate) in double precision, JVM-side.
    Ordering is on the *rounded* similarity so cross-engine ranking ties
    resolve identically. LSH-bucketed scale path:
    ros_sql_spark.operators.similarity."""
    emb = _t(spark, sf_dir, "embeddings")
    qvec = (
        emb.filter(F.col("vec_id") == 0)
        .select(F.col("embedding").alias("q"))
    )
    cand = emb.filter(F.col("vec_id") != 0)

    def dot(a: str, b: str):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    joined = cand.join(F.broadcast(qvec))
    sim = dot("embedding", "q") / (
        F.sqrt(dot("embedding", "embedding")) * F.sqrt(dot("q", "q"))
    )
    return (
        joined.select("vec_id", r6(sim).alias("sim"))
        .orderBy(F.desc("sim"), "vec_id")
        .limit(5)
    )


def q66_lang_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus composition: lang × source counts."""
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("lang", "source").agg(F.count("*").alias("n"))


def q73_embedding_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array math: L2 norm via higher-order functions, double precision."""
    emb = _t(spark, sf_dir, "embeddings")
    sq_sum = F.aggregate(
        F.transform("embedding", lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return emb.select("vec_id", r6(F.sqrt(sq_sum)).alias("l2norm"))


def q30_multimodal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal column alignment: text table ⋈ embedding table."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "label")
    return docs.join(emb, docs.doc_id == emb.vec_id).select(
        "doc_id", "lang", "label"
    )


# --------------------------------------------------------------------------
# Extended LLM-pipeline suite (q31+): dedup variants, similarity search,
# text analysis, multimodal plumbing — operator implementations live in
# ros_sql_spark.operators / ros_sql_spark.functions.text
# --------------------------------------------------------------------------

def q31_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup fingerprint per document (60-bit, md5-portable —
    the oracle reproduces it bit-for-bit in SQL)."""
    from ros_sql_spark.functions.text import simhash, tokens
    from ros_sql_spark.functions.util import ensure_scan_parallelism

    docs = ensure_scan_parallelism(_t(spark, sf_dir, "documents"))
    return docs.select("doc_id", tokens("text").alias("_toks")).select(
        "doc_id", simhash("_toks").alias("simhash")
    )


def q32_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise 3-gram token-shingle Jaccard on a doc subset (exact
    near-dup scoring; the LSH-banded scale path is q26/minhash_pairs)."""
    from ros_sql_spark.operators.dedup import token_shingles, tokenize

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 40)
    sh = docs.select(F.col("doc_id"), tokenize("text").alias("_toks")).select(
        "doc_id", F.array_distinct(token_shingles("_toks", 3)).alias("sh")
    )
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sa"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sb"))
    inter = F.size(F.array_intersect("sa", "sb"))
    union = F.size("sa") + F.size("sb") - inter
    return (
        a.join(b, F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.round(inter.cast("double") / union.cast("double"), 6).alias("jaccard"),
        )
    )


def q68_cosine_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate candidate pairs (threshold on the
    ROUNDED similarity so both engines cut the same set)."""
    from ros_sql_spark.operators.similarity import cosine

    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 120)
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    sim = F.round(cosine("va", "vb"), 6)
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", sim.alias("sim"))
        .filter(F.col("sim") >= 0.3)
    )


def q70_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-3 per query (first 20 vectors as queries) —
    the exact ANN baseline; q40 is the LSH-bucketed approximation."""
    from ros_sql_spark.operators.similarity import brute_force_knn
    from ros_sql_spark.functions.util import ensure_scan_parallelism

    emb = ensure_scan_parallelism(_t(spark, sf_dir, "embeddings"))
    return brute_force_knn(emb, emb.filter(F.col("vec_id") < 20), k=3)


def q35_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-heuristic language ID (deterministic tie order)."""
    from ros_sql_spark.functions.text import detect_lang

    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", detect_lang("text").alias("lang_pred"))


def q71_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality features: length, tokens, mean token length,
    punctuation ratio, stopword ratio."""
    from ros_sql_spark.functions.text import (
        avg_token_len,
        punct_ratio,
        stopword_ratio,
        tokens,
    )

    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", F.col("text"), tokens("text").alias("_toks")).select(
        "doc_id",
        F.length("text").cast("bigint").alias("n_chars_c"),
        F.size("_toks").cast("bigint").alias("n_tok"),
        F.round(avg_token_len("_toks"), 6).alias("avg_tok_len"),
        F.round(punct_ratio("text"), 6).alias("punct_ratio"),
        F.round(stopword_ratio("_toks", "en"), 6).alias("stop_ratio_en"),
    )


def q37_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting under a BPE-ish pre-tokenizer regex."""
    from ros_sql_spark.functions.text import token_count_bpe

    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", token_count_bpe("text").alias("n_bpe"))


def q38_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive bag-of-words content fingerprint."""
    from ros_sql_spark.functions.text import fingerprint

    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", fingerprint("text").alias("fp"))


def q39_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing, VALUE-EXACT under the gate (round-8;
    formerly rows-only): binary payload + typed metadata →
    Arrow-batched mapInPandas feature extraction (deterministic fake
    codec — real decoders aren't in this container; see
    operators/multimodal.py).

    The declared query digests the feature vector as md5 over the
    EXACT integer forms (each fake feature is n/2^32, so f·2^32
    recovers n exactly — no float-to-string formatting an engine could
    render differently; to_json's Java double rendering was the
    round-8 blocker).  The fake-feature chain itself advances on hex
    digests, so the DuckDB oracle rebuilds every digest bit-for-bit —
    the Arrow plumbing (schema, batching, metadata passthrough) is now
    verified against actual VALUES, not just row shape.  API users get
    the raw array from extract_features."""
    from ros_sql_spark.operators.multimodal import as_assets, extract_features

    docs = _t(spark, sf_dir, "documents")
    assets = as_assets(docs, "doc_id", "text", "text/plain", source_col="source")
    ints = F.transform(
        "features",
        lambda f: (f * F.lit(4294967296.0)).cast("bigint").cast("string"),
    )
    return extract_features(assets).select(
        "asset_id",
        "mime",
        "n_bytes",
        F.md5(F.array_join(ints, ",").cast("binary")).alias("features_md5"),
    )


def q40_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-3, VALUE-EXACT under the gate
    (round-8; formerly the last in-window rows-only row).

    "Approximate" never meant "nondeterministic": the recall loss is a
    DESIGNED property of the bucketing, so with integer sign decisions
    (operators/similarity.py::hyperplane_buckets_int — floor-quantized
    vectors, md5-derived integer planes, exact int64 dots) and the
    q27-parity sequential-fold rerank, the DuckDB oracle reproduces the
    exact candidate sets AND the exact top-3 rows.  Recall vs the exact
    baseline is still asserted in tests (the quantization moves no
    measured neighbor).  The query set is a predicate over the corpus,
    so the bucket pipeline is built once (query_filter form) and the
    candidate shuffle carries bare id pairs."""
    from ros_sql_spark.operators.similarity import lsh_knn

    emb = _t(spark, sf_dir, "embeddings")
    return lsh_knn(
        emb,
        query_filter=F.col("vec_id") < 20,
        dim=64,
        k=3,
        bands=8,
        planes_per_band=4,
        # one Arrow bucketing pass + persisted narrow (id,band,bucket)
        # table reused by the query side: measured 2.6s -> 1.6s at
        # sf0.1, and at scale it halves the dominant matmul cost.
        persist_buckets=True,
        int_planes=True,
        exact_rerank=True,
    )


def q41_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join: each click's most recent prior-or-equal
    purchase timestamp per user (union + one window pass per key — the
    scalable reformulation; oracle uses DuckDB's native ASOF JOIN).

    The as-of comparison runs on µs-FLOORED keys: DuckDB's ASOF sees
    µs-truncated TIMESTAMP(NANOS), so a purchase later in the same µs as
    a click must still match (CLAUDE.md time invariant; comparing raw ns
    would silently diverge on same-µs collisions).  The carried payload
    is the µs value itself, so same-µs right-side ties are value-stable."""
    from ros_sql_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "event_id", tus("ts_ns").alias("us")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", tus("ts_ns").alias("prev_purchase_us")
    )
    out = asof_join(
        clicks,
        purchases,
        on=["user_id"],
        left_ts="us",
        right_ts="prev_purchase_us",
        right_payload=["prev_purchase_us"],
    )
    return out.select("event_id", "user_id", "prev_purchase_us")


def q42_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval self-join: same-user event pairs within 1 hour, via
    time-bucketized equi-join (probes 3 adjacent buckets, never the full
    user group — Σ occupancy² instead of N² per key)."""
    from ros_sql_spark.operators.asof import interval_join

    # Work in µs floored PER TIMESTAMP: DuckDB 1.0 truncates
    # TIMESTAMP(NANOS) parquet to µs on read, so µs differences are the
    # finest time arithmetic the oracle can see — flooring the ns *gap*
    # instead would drift by 1µs on ~half the rows (observed).
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", tus("ts_ns").alias("us")
    )
    out = interval_join(
        ev,
        ev,
        on=["user_id"],
        left_ts="us",
        right_ts="us",
        window_ns=3_600_000_000,  # 1 hour in µs (param is unit-agnostic)
    )
    return (
        out.filter(F.col("event_id") < F.col("r_event_id"))
        .select(
            F.col("event_id").alias("event_a"),
            F.col("r_event_id").alias("event_b"),
            "user_id",
            F.abs(F.col("us") - F.col("r_us")).alias("gap_us"),
        )
    )


def q74_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets over documents (rollup's sibling, q55).

    Two-level like q55 (round-16): the cube's Expand is ×4, so it runs
    over the fine-grain aggregate, never the raw corpus rows."""
    docs = _t(spark, sf_dir, "documents")
    fine = docs.groupBy("lang", "source").agg(
        F.count("*").alias("_n"), F.sum("n_chars").alias("_sc")
    )
    return fine.cube("lang", "source").agg(
        F.coalesce(F.sum("_n"), F.lit(0)).cast("bigint").alias("n"),
        F.sum("_sc").alias("sum_chars"),
    )


def q44_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated percentiles per group (continuous quantiles — both
    engines use linear interpolation; rounded for float parity).

    EXACT values via rank-based selection
    (operators/percentile.py::exact_percentiles), not the
    ``percentile()`` aggregate: that buffers a whole group's value
    multiset in ONE task's aggregation buffer — with a handful of
    event types over 100 TB that's an OOM, not a slowdown.  The
    rank-based form pre-aggregates to distinct values, streams a
    spillable window, and returns bit-identical results (asserted in
    tests)."""
    from ros_sql_spark.operators.percentile import exact_percentiles

    ev = _t(spark, sf_dir, "events")
    pct = exact_percentiles(
        ev, ["event_type"], "value", {"p50": 0.5, "p90": 0.9}
    )
    return pct.select(
        "event_type", r6(F.col("p50")).alias("p50"), r6(F.col("p90")).alias("p90")
    )


def q72_moment_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moment statistics: sample stddev + correlation per group."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        r6(F.stddev_samp("value")).alias("sd"),
        r6(F.corr("value", F.col("user_id").cast("double"))).alias("c"),
    )


def q46_json_map_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType surface: parse the JSON props column into a map and explode
    its entries (the ROS model has no maps — engine extension,
    SURVEY.md §2.2 'Map / JSON functions').

    explode_OUTER + null-key filter, not plain explode: the inferred
    pre-Generate filter (size>0 AND isnotnull) re-parses the JSON twice
    more per row for plain explode (3x from_json; measured 2.3s -> 0.9s
    at sf0.1).  Semantics are identical — JSON map keys are never null,
    so a null key only marks the corrupt/empty rows plain explode drops."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.select(
            "event_id",
            F.explode_outer(F.from_json("props", "map<string,bigint>")).alias(
                "key", "val"
            ),
        )
        .filter(F.col("key").isNotNull())
    )


def q47_window_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic window frames beyond lag: sliding-frame sum, running min,
    ntile quartiles (SURVEY.md §2.2 'Window: analytic + frames').
    Frames ordered by the µs-floored key for oracle parity."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(tus("ts_ns"), F.col("event_id"))
    sliding = w.rowsBetween(-2, 0)
    running = w.rowsBetween(Window.unboundedPreceding, 0)
    return ev.select(
        "user_id",
        "event_id",
        r6(F.sum("value").over(sliding)).alias("sum3"),
        r6(F.min("value").over(running)).alias("run_min"),
        F.ntile(4).over(w).alias("quartile"),
    )


def q75_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-function battery: case mapping, substring, replace, pad,
    position, reverse — identical semantics asserted cross-engine."""
    docs = _t(spark, sf_dir, "documents")
    head = F.substring("text", 1, 24)
    return docs.select(
        "doc_id",
        F.upper(head).alias("u"),
        F.replace(F.lower(head), F.lit(" "), F.lit("_")).alias("r"),
        F.lpad(F.col("lang"), 5, ".").alias("padded"),
        F.instr("text", F.lit("data")).cast("bigint").alias("pos_data"),
        F.reverse(F.col("source")).alias("rev_src"),
    )


def q76_null_logic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional/NULL logic: nullif, coalesce, least/greatest, CASE."""
    ev = _t(spark, sf_dir, "events")
    bucket = (
        F.when(F.col("value") < 50, "low")
        .when(F.col("value") < 200, "mid")
        .otherwise("high")
    )
    return ev.select(
        "event_id",
        F.coalesce(F.nullif("event_type", F.lit("error")), F.lit("none")).alias(
            "et_or_none"
        ),
        r6(F.least("value", F.lit(100.0))).alias("capped"),
        r6(F.greatest("value", F.lit(1.0))).alias("floored"),
        bucket.alias("bucket"),
    )


def q79_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY + HAVING (post-aggregation filter pushed nowhere —
    semantically a filter over the aggregate, planned as such)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.sum(money("value")).cast("double").alias("total"),
        )
        .filter(F.col("n") > 30)
    )


def q10_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: per-user event counts widened to one column per type.
    Explicit value list (never let pivot scan for distinct values at
    scale); absent cells filled 0 to match FILTER-count semantics."""
    ev = _t(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    return (
        ev.groupBy("user_id")
        .pivot("event_type", types)
        .count()
        .na.fill(0, types)
    )


def q14_rank_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions: percent_rank, cume_dist, dense_rank
    over an exact-decimal spend ranking.

    NOT a ``Window.orderBy`` with no partitionBy — that plans a
    single-partition global sort (every customer through one task; the
    round-1 scale-killer).  The ordering key (total DESC, o_custkey) is
    unique, so rank == dense_rank == row_number and the distribution
    stats are arithmetic over a two-phase range-partitioned global row
    number (operators/rank.py).  Plan shape guarded in test_plans.py."""
    from ros_sql_spark.operators.rank import rank_stats

    orders = _t(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.sum(money("o_totalprice")).alias("total")
    )
    # checkpoint_child: the range-boundary sampling job would otherwise
    # re-run the spend aggregation (measured 1.04→0.87s median, sf0.1)
    ranked = rank_stats(
        spend,
        [F.desc("total"), F.asc("o_custkey")],
        checkpoint_child=True,
    )
    return ranked.select(
        F.col("o_custkey").alias("c_custkey"),
        r6(F.col("pr")).alias("pr"),
        r6(F.col("cd")).alias("cd"),
        F.col("rn").cast("bigint").alias("dr"),
    )


def q53_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with GROUPING(): disambiguates subtotal NULLs from data
    NULLs (the correctness-critical companion to q55/q74).

    Two-level like q55 (round-16): the rollup's Expand runs over the
    fine-grain aggregate, never the raw corpus rows."""
    docs = _t(spark, sf_dir, "documents")
    fine = docs.groupBy("lang", "source").agg(F.count("*").alias("_cnt"))
    return fine.rollup("lang", "source").agg(
        F.coalesce(F.sum("_cnt"), F.lit(0)).cast("bigint").alias("n"),
        F.grouping("lang").cast("bigint").alias("g_lang"),
        F.grouping("source").cast("bigint").alias("g_source"),
    )


def q12_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct counting (HyperLogLog++), SURVEY.md §2.2
    'Distinct aggregation — approx path'.

    Spark's HLL++ and DuckDB's HLL produce different estimates, so the
    sketch value itself can't hash-match.  Instead each engine asserts
    ITS OWN sketch against ITS OWN exact count (relative error ≤ 5%)
    and emits the boolean + the exact count, both of which DO
    hash-match.  A drifting sketch on either side flips its boolean and
    fails the driver's value hash.  Spark's sketch runs at rsd=0.02,
    not the 0.05 default: the default measured 6.7% off at sf0.1
    (1400 vs 1500 — outside the gate), while 0.02 measures ≤0.4% at
    every SF and costs ~2.4x less merge work than 0.01 (register count
    grows ~1/rsd²) — still a bounded-memory streaming aggregate."""
    ev = _t(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.approx_count_distinct("user_id", 0.02).alias("_approx"),
    )
    tol = (
        F.abs(F.col("_approx") - F.col("n_users"))
        <= F.col("n_users") * F.lit(0.05)
    )
    return agg.select("event_type", "n_users", tol.alias("approx_ok"))


def q13_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary GROUPING SETS ((lang), (source), ()) — the general form
    beyond ROLLUP (q55/q53) and CUBE (q74): per-lang totals, per-source
    totals, and a grand total in one pass (Spark expands the sets and
    aggregates once; no multi-scan UNION ALL).

    Two-level like q55 (round-16): the Expand (×3 here) runs over the
    fine-grain aggregate, never the raw corpus rows."""
    docs = _t(spark, sf_dir, "documents")
    fine = docs.groupBy("lang", "source").agg(
        F.count("*").alias("_cnt"), F.sum("n_chars").alias("_sc")
    )
    return fine.groupingSets(
        [["lang"], ["source"], []], "lang", "source"
    ).agg(
        F.coalesce(F.sum("_cnt"), F.lit(0)).cast("bigint").alias("n"),
        F.sum("_sc").alias("sum_chars"),
        F.grouping("lang").cast("bigint").alias("g_lang"),
        F.grouping("source").cast("bigint").alias("g_source"),
    )


def q15_dup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate GROUPS: n-gram-Jaccard candidate pairs → connected
    components → (doc_id, component = min reachable doc_id).  The dedup
    endgame ("keep one survivor per duplicate cluster"), exercised on
    the q32 subset so the oracle (a recursive-CTE reachability closure)
    stays cheap; the operator itself is the scale path
    (operators/dedup.py::connected_components)."""
    from ros_sql_spark.operators.dedup import connected_components

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 40)
    pairs = q32_ngram_jaccard(spark, sf_dir).filter(F.col("jaccard") >= 0.001)
    edges = pairs.select(
        F.col("doc_a").alias("id_a"), F.col("doc_b").alias("id_b")
    )
    comp = connected_components(
        edges, nodes=docs.select("doc_id"), id_col="doc_id"
    )
    return comp.select("doc_id", F.col("component").cast("bigint").alias("component"))


def q57_token_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token frequency top-k (vocabulary head) — partial (map-side)
    counting makes the explode→count a combiner-friendly single shuffle;
    (n DESC, tok) is a total order so the k-boundary is deterministic."""
    docs = _t(spark, sf_dir, "documents")
    return (
        # explode_outer: the inner-explode variant gets an inferred
        # size>0 pre-filter that re-runs split(lower(text)) per row
        # (CLAUDE.md Generate invariant); null toks can't occur (text
        # is non-null parquet), so semantics are identical.
        docs.select(F.explode_outer(F.split(F.lower("text"), " ")).alias("tok"))
        .filter(F.col("tok").isNotNull())
        .groupBy("tok")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "tok")
        .limit(50)
    )


def q58_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids in LONG form (label, idx, c) — the
    wide array<double> form is for API users (arrays can't cross the
    driver canonicalizer); one posexplode + one grouped avg, double
    precision, rounded for float parity."""
    emb = _t(spark, sf_dir, "embeddings")
    return (
        emb.select("label", F.posexplode("embedding").alias("idx", "v"))
        .groupBy("label", F.col("idx").cast("bigint").alias("idx"))
        .agg(r6(F.avg(F.col("v").cast("double"))).alias("c"))
    )


def q22_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (80/10/10) by content-free id
    hashing — the reproducible alternative to RNG sampling for dataset
    partitioning: stable under reruns, engines, and corpus growth
    (a doc's split never changes when other docs are added).  Bucket =
    first 8 md5 hex digits of the id, mod 100 — portable integer
    arithmetic both engines reproduce bit-for-bit (same trick as the
    q31 SimHash oracle)."""
    docs = _t(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % 100
    )
    split = (
        F.when(F.col("bucket") < 80, "train")
        .when(F.col("bucket") < 90, "val")
        .otherwise("test")
    )
    return docs.select("doc_id", bucket.alias("bucket")).select(
        "doc_id", "bucket", split.alias("split")
    )


def q23_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window packing: assign each doc to a training sequence by
    cumulative token count within its source shard (seq boundary every
    2048 BPE-ish tokens).  A per-shard window cumsum — partitionBy keeps
    it parallel (no global single-partition window); bin = where the doc
    STARTS, so assignment is deterministic and order-stable."""
    from ros_sql_spark.functions.text import token_count_bpe

    docs = _t(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    toks = docs.select("doc_id", "source", token_count_bpe("text").alias("n_bpe"))
    return (
        toks.withColumn("_cum", F.sum("n_bpe").over(w))
        .select(
            "doc_id",
            "source",
            "n_bpe",
            # integer div (never `/`): the doc's sequence = where it starts
            F.expr("(_cum - n_bpe) div 2048").alias("seq_id"),
        )
    )


def q21_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/Gopher-style quality gate: the q71 features fused into one
    keep/drop decision per doc.  Thresholds compare the ROUNDED feature
    values, so both engines evaluate the identical number against the
    identical constant — the decision is deterministic even at the
    boundary."""
    from ros_sql_spark.functions.text import punct_ratio, stopword_ratio, tokens

    docs = _t(spark, sf_dir, "documents")
    feats = docs.select(
        "doc_id", F.col("text"), tokens("text").alias("_toks")
    ).select(
        "doc_id",
        F.size("_toks").cast("bigint").alias("n_tok"),
        F.round(punct_ratio("text"), 6).alias("_punct"),
        F.round(stopword_ratio("_toks", "en"), 6).alias("_stop"),
    )
    keep = (
        (F.col("n_tok") >= 10)
        & (F.col("_punct") < 0.25)
        & (F.col("_stop") > 0.015)
    )
    return feats.select("doc_id", "n_tok", keep.alias("keep"))


def q62_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII-style scrubbing: collapse every digit run to '#' (the shape
    of email/phone/id redaction) and emit the digest of the redacted
    text — the privacy-pass transform of a training-data pipeline,
    pure JVM regexp, verified byte-identical cross-engine via md5."""
    docs = _t(spark, sf_dir, "documents")
    red = F.regexp_replace("text", "[0-9]+", "#")
    return docs.select(
        "doc_id",
        F.md5(red.cast("binary")).alias("redacted_md5"),
        (F.length("text") - F.length(red)).cast("bigint").alias("n_removed"),
    )


def q63_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition filter signal (Gopher rule family): fraction of
    duplicated 3-token shingles per document — 1 - distinct/total.

    Counts distinct shingle HASHES (operators.dedup.shingle_hashes:
    token-hash + fixed-width combine, parallelism-ensured), not shingle
    strings: the ratio is identical modulo in-doc 64-bit collisions
    (~n²/2^65 per doc) and skips both the per-shingle string build and
    string array_distinct — measured 4.8s -> sub-second at sf0.1, all
    of it single-task interpreted-HOF string work.  The DuckDB oracle
    counts distinct strings; the value parity IS the collision check."""
    from ros_sql_spark.operators.dedup import shingle_hashes

    docs = _t(spark, sf_dir, "documents")
    sh = shingle_hashes(docs, "doc_id", "text", 3)
    rep = F.lit(1.0) - (
        F.size(F.array_distinct("_hs")).cast("double")
        / F.size("_hs").cast("double")
    )
    return sh.select("doc_id", F.round(rep, 6).alias("rep_ratio"))


def q64_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE window frame (value-based, vs q47's ROWS frames): per user,
    activity in the trailing hour — count and sum of events whose µs
    timestamp lies within [current - 1h, current].  Unlike ROWS, equal
    order keys share one frame, so the µs key needs no id tiebreak."""
    ev = _t(spark, sf_dir, "events")
    us = tus("ts_ns")
    w = (
        Window.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(-3_600_000_000, 0)
    )
    return (
        ev.select("user_id", "event_id", us.alias("us"), "value")
        .select(
            "user_id",
            "event_id",
            F.count("*").over(w).cast("bigint").alias("n_1h"),
            r6(F.sum("value").over(w)).alias("sum_1h"),
        )
    )


def q24_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: split each document into fixed 128-char
    chunks (the map side of a chunk-embed-index pipeline).  A pure
    per-row explode — linear, shuffle-free, cardinality-raising.
    ``sequence(0, n-1)`` needs n >= 1: Spark's sequence DESCENDS when
    start > stop (DuckDB's range is empty), so empty docs are filtered
    identically on both engines rather than relying on that edge."""
    docs = _t(spark, sf_dir, "documents")
    n_chunks = F.expr("(length(text) + 127) div 128")
    return (
        docs.filter(F.length("text") > 0)
        .select("doc_id", "text", n_chunks.alias("_nc"))
        .select(
            "doc_id",
            "text",
            F.explode(F.sequence(F.lit(0), F.col("_nc") - 1)).alias("chunk_id"),
        )
        .select(
            "doc_id",
            F.col("chunk_id").cast("bigint").alias("chunk_id"),
            F.md5(
                F.substring(
                    F.col("text"), F.col("chunk_id") * 128 + 1, 128
                ).cast("binary")
            ).alias("chunk_md5"),
            F.length(
                F.substring(F.col("text"), F.col("chunk_id") * 128 + 1, 128)
            )
            .cast("bigint")
            .alias("chunk_len"),
        )
    )


def q28_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language stratified sampling: each language has
    its own keep-rate (tiny dim, broadcast), membership decided by the
    q22 md5-bucket — rerun-stable, engine-portable, no RNG.  Languages
    absent from the dim (fr here) fall back to a 10% default through the
    left join, exercising the broadcast-dim + coalesce path."""
    docs = _t(spark, sf_dir, "documents")
    rates = spark.createDataFrame(
        [("en", 50), ("zh", 30), ("es", 25), ("de", 20)],
        "lang string, rate_pct int",
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % 100
    )
    return (
        docs.select("doc_id", "lang", bucket.alias("bucket"))
        .join(F.broadcast(rates), "lang", "left")
        .filter(F.col("bucket") < F.coalesce("rate_pct", F.lit(10)))
        .select("doc_id", "lang", "bucket")
    )


def q67_ntile_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-quartile profile per language: ntile(4) within each lang
    over a UNIQUE ordering (n_chars, doc_id — deterministic tile edges
    on both engines), then per-tile count and char range.  Window is
    partitioned by lang — parallel, never a global single-partition
    sort."""
    docs = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    return (
        docs.select("doc_id", "lang", "n_chars", F.ntile(4).over(w).alias("q"))
        .groupBy("lang", "q")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.min("n_chars").cast("bigint").alias("min_chars"),
            F.max("n_chars").cast("bigint").alias("max_chars"),
        )
        .select("lang", F.col("q").cast("bigint").alias("q"), "n", "min_chars", "max_chars")
    )


def q33_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection: within each exact-content cluster
    (q25's digest) keep the best representative — longest text, doc_id
    as the tiebreak — plus cluster size as the audit trail.

    This is an ARGMAX, not a ranking: one hash aggregate with a
    lexicographic ``max(struct(n_chars, -doc_id))`` carries both the
    ordering and the survivor, so the partial aggregate combines
    map-side and only one row per cluster ever shuffles.  The window
    formulation (row_number + count(*) over the digest) shuffles every
    member row and sorts each cluster — and its count(*) blocks the
    WindowGroupLimit partial-limit rule, so there is no partial
    anything.  Same deterministic winner (-doc_id is unique, so the
    struct comparison never ties)."""
    docs = _t(spark, sf_dir, "documents")
    h = F.md5(F.col("text").cast("binary"))
    return (
        docs.select("doc_id", "n_chars", h.alias("h"))
        .groupBy("h")
        .agg(
            F.max(F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("negid"))).alias("s"),
            F.count("*").cast("bigint").alias("n_members"),
        )
        .select("h", (-F.col("s.negid")).alias("keep_id"), "n_members")
    )


def q20_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: drop from the train split (q22 buckets
    < 80) any document sharing a 5-token shingle with the held-out eval
    set (buckets >= 98).  The eval shingle set is tiny (2% of docs) →
    broadcast left-semi marks contamination, anti-join removes it; the
    big train side never shuffles.  Membership is tested on shingle
    HASHES (operators.dedup.shingle_hashes — no per-shingle string is
    ever built or shuffled): hash-membership equals string-membership
    modulo 2^-64 collisions, and 8-byte longs broadcast ~5x smaller
    than 5-token strings.  The DuckDB oracle tests string membership;
    the doc_id-set parity IS the collision check."""
    from ros_sql_spark.operators.dedup import shingle_hashes

    docs = _t(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % 100
    )
    # explode_OUTER, deliberately: InferFiltersFromGenerate adds a
    # size(e)>0 AND isnotnull(e) pre-filter for plain explode, and that
    # predicate re-inlines the whole shingle pipeline in its collapsed
    # O(tokens²) form — measured 9.4s vs 0.28s at sf0.1.  The rule
    # skips outer generates; _hs is non-empty by construction, so the
    # semantics are identical.
    sh = shingle_hashes(docs, "doc_id", "text", 5).select(
        "doc_id",
        bucket.alias("bucket"),
        F.explode_outer("_hs").alias("s"),
    )
    eval_sh = sh.filter(F.col("bucket") >= 98).select("s").distinct()
    contaminated = (
        sh.filter(F.col("bucket") < 80)
        .join(F.broadcast(eval_sh), "s", "left_semi")
        .select("doc_id")
        .distinct()
    )
    return (
        docs.select("doc_id", bucket.alias("bucket"))
        .filter(F.col("bucket") < 80)
        .join(contaminated, "doc_id", "left_anti")
        .select("doc_id")
    )


def q34_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict ordered funnel (view -> click -> purchase): per user, the
    earliest view, the earliest click AFTER that view, the earliest
    purchase AFTER that click, and the stage reached (µs keys — the
    cross-engine-visible resolution).

    ONE shuffle on user_id: three stacked unbounded Windows over the
    same partitioning (u1 = min view; u2 = min click with us > u1 —
    u1 is already a per-row constant by then; u3 likewise), then a
    groupBy(user_id) that REUSES the hash partitioning, so no second
    exchange.  Replaces the naive 3-aggregate/2-inequality-join chain
    (5 shuffles + 6 scans measured in the plan audit) — at 100 TB the
    events table is scanned once instead of three times and only the
    3-type subset shuffles."""
    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("view", "click", "purchase"))
        .select("user_id", "event_type", tus("ts_ns").alias("us"))
    )
    w = Window.partitionBy("user_id")
    typed_min = lambda typ, extra: F.min(
        F.when((F.col("event_type") == typ) & extra, F.col("us"))
    ).over(w)
    staged = (
        ev.withColumn("u1", typed_min("view", F.lit(True)))
        .withColumn("u2", typed_min("click", F.col("us") > F.col("u1")))
        .withColumn("u3", typed_min("purchase", F.col("us") > F.col("u2")))
    )
    stage = (
        F.when(F.col("u3").isNotNull(), 3)
        .when(F.col("u2").isNotNull(), 2)
        .otherwise(1)
    )
    return (
        staged.filter(F.col("u1").isNotNull())
        .groupBy("user_id")
        .agg(F.min("u1").alias("u1"), F.min("u2").alias("u2"), F.min("u3").alias("u3"))
        .select("user_id", "u1", "u2", "u3", stage.cast("bigint").alias("stage"))
    )


def q36_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF top-3 terms per document.  tf from one token explode +
    count; df over the (doc, term) pairs (already distinct — no second
    dedup pass); idf = ln(N/df) with N broadcast from a 1-row aggregate.
    Rank on the ROUNDED score with the term as tiebreak, so both
    engines order the identical number.

    Shuffle reuse: the token stream is hash-partitioned on doc_id ONCE
    — that single exchange satisfies the (doc_id, term) aggregate
    (subset rule) AND, because the vocab side of the join is an
    explicit broadcast, survives through to the per-doc top-k window,
    which therefore needs no re-shuffle of the scored pair table (the
    biggest intermediate) and takes the WindowGroupLimit partial.  The
    broadcast is safe while the DISTINCT vocabulary fits an executor
    (typical after token normalization); for a vocabulary beyond
    broadcast size, drop the hint — the plan degrades to SMJ on term
    plus a window re-shuffle, which is the correct fallback."""
    docs = _t(spark, sf_dir, "documents")
    # explode_outer + null filter: avoids the inferred pre-Generate
    # filter double-evaluating the tokenizer (CLAUDE.md invariant).
    toks = docs.select(
        "doc_id", F.explode_outer(F.split(F.lower("text"), " ")).alias("term")
    ).filter(F.col("term").isNotNull())
    toks = toks.repartition("doc_id")
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            r6(
                F.col("tf").cast("double")
                * F.log(F.col("n_docs").cast("double") / F.col("df"))
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "term", "tfidf", F.col("rk").cast("bigint").alias("rk"))
    )


def q45_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sketch path for quantiles: ``approx_percentile`` streams a
    bounded t-digest through partial aggregation.  Sketches differ
    across engines, so — like q12 — each engine asserts ITS OWN approx
    against ITS OWN exact value (|approx-exact| <= 5% of the group's
    value spread) and emits the boolean plus the exact median; booleans
    and exact values hash-match cross-engine.  The exact anchor comes
    from the rank-based operator (q44's memory-bounded form), joined
    back broadcast — group-cardinality rows."""
    from ros_sql_spark.operators.percentile import exact_percentiles

    ev = _t(spark, sf_dir, "events")
    ex = exact_percentiles(ev, ["event_type"], "value", {"_p50": 0.5})
    ag = ev.groupBy("event_type").agg(
        F.expr("approx_percentile(value, 0.5, 1000)").alias("_ap"),
        (F.max("value") - F.min("value")).alias("_spread"),
    )
    return ag.join(F.broadcast(ex), "event_type").select(
        "event_type",
        r6(F.col("_p50")).alias("p50_exact"),
        (F.abs(F.col("_ap") - F.col("_p50")) <= F.col("_spread") * 0.05).alias(
            "approx_ok"
        ),
    )


def q29_quantize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 embedding quantization (the storage/serving compression
    step of a vector pipeline): per-vector symmetric scale =
    max(|v|)/127, elements floored to int — floor, not round, because
    both engines floor identically on the same double while banker's-
    vs-half-up rounding at representation boundaries differs.  Emits
    the rounded scale and an order-independent checksum of the
    quantized vector (sum and sum of absolute values).  Pure
    projection: linear, shuffle-free."""
    emb = _t(spark, sf_dir, "embeddings")
    dv = F.transform("embedding", lambda x: x.cast("double"))
    scale = F.array_max(F.transform("_dv", lambda x: F.abs(x))) / F.lit(127.0)
    qv = F.transform(
        "_dv", lambda x: F.floor(x / F.col("_scale")).cast("bigint")
    )
    return (
        emb.select("vec_id", dv.alias("_dv"))
        .select("vec_id", "_dv", scale.alias("_scale"))
        .select("vec_id", "_scale", qv.alias("_qv"))
        .select(
            "vec_id",
            r6(F.col("_scale")).alias("scale"),
            F.aggregate(
                "_qv", F.lit(0).cast("bigint"), lambda a, x: a + x
            ).alias("q_sum"),
            F.aggregate(
                "_qv", F.lit(0).cast("bigint"), lambda a, x: a + F.abs(x)
            ).alias("q_abs_sum"),
        )
    )


def q43_correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL entry point + correlated scalar subqueries: orders priced
    above 1.5x their customer's average, written as SQL that Catalyst
    decorrelates into aggregate+join (no per-row re-execution — the
    rewritten plan is the same shape a hand-built join would give).

    The predicate is multiplied through by the count —
    2*price*cnt > 3*sum — so the comparison stays in EXACT decimal
    arithmetic on both engines; a literal `price > 1.5*avg` would
    compare Spark's exact decimal avg against DuckDB's double avg and
    flip on boundary-equal rows."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("v_orders")
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey, CAST(price AS DOUBLE) AS price
        FROM (SELECT o_orderkey, o_custkey,
                     CAST(o_totalprice AS DECIMAL(18,2)) AS price
              FROM v_orders) o
        WHERE 2 * price * (SELECT count(*) FROM v_orders o2
                           WHERE o2.o_custkey = o.o_custkey)
              > 3 * (SELECT sum(CAST(o_totalprice AS DECIMAL(18,2)))
                     FROM v_orders o2
                     WHERE o2.o_custkey = o.o_custkey)
        """
    )


def q48_skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key aggregation through the explicit salting operator
    (operators/skew.py): events grouped by event_type — 5 keys over the
    whole table is exactly the shape where one reducer would take a
    key's entire volume at 100 TB.  Phase 1 groups on (key, salt-of-
    event_id) spreading each key over 32 reducers; phase 2 merges
    partials.  Result provably identical to the plain GROUP BY the
    DuckDB oracle runs; decimal sum exact inside, double at the
    boundary."""
    from ros_sql_spark.operators.skew import salted_aggregate

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "event_type", money(F.col("value")).alias("_v")
    )
    out = salted_aggregate(
        ev,
        keys=["event_type"],
        aggs={
            "n": ("count", "*"),  # COUNT(*) — matches the oracle even if _v were nullable
            "total": ("sum", "_v"),
            "vmax": ("max", "_v"),
        },
        salt_src="event_id",
    )
    return out.select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        F.col("total").cast("double").alias("total"),
        F.col("vmax").cast("double").alias("vmax"),
    )


def q49_ordered_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered aggregation — the R11 child-reassembly shape as a
    declared query: per order, the line numbers collected, SORTED, and
    joined to one string (collect_list has nondeterministic arrival
    order; array_sort makes the result order-independent, exactly how
    denormalize rebuilds arrays from stored indexes).  String output,
    not array (driver canonicalizer bans arrays)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_orderkey").agg(
        F.array_join(
            F.array_sort(F.collect_list(F.col("l_linenumber").cast("bigint"))),
            ",",
        ).alias("lines"),
        F.count("*").cast("bigint").alias("n_lines"),
    )


def q77_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (inverse of q10): per-language doc counts by source go
    from wide columns back to long (source, lang, n) rows — the
    DataFrame.unpivot/melt surface.  Zero-count cells are kept (they
    exist as columns in the wide form) so the unpivot is lossless."""
    docs = _t(spark, sf_dir, "documents")
    wide = (
        docs.groupBy("source")
        .pivot("lang", ["en", "de", "es", "fr", "zh"])
        .count()
        .na.fill(0)
    )
    return wide.unpivot(
        ["source"],
        ["en", "de", "es", "fr", "zh"],
        "lang",
        "n",
    ).select("source", "lang", F.col("n").cast("bigint").alias("n"))


def q78_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-3 (rows-only, like q40: recall is
    probabilistic by design and asserted against the exact baseline in
    tests/test_operators.py).  KMeans coarse quantizer trained on a
    sample; search probes n_probe cells per query — ~n_probe/n_cells of
    brute-force cost, candidate fetch is an equi-join on a small int
    cell id.  The second ANN family next to q40's hyperplane LSH: IVF
    recall degrades gracefully with cluster quality, LSH with hash
    width — an engine should ship both."""
    from ros_sql_spark.operators.similarity import ivf_knn

    emb = _t(spark, sf_dir, "embeddings")
    return ivf_knn(
        emb,
        queries=emb.filter(F.col("vec_id") < 20),
        k=3,
        n_cells=8,
        n_probe=3,
        # seed-pinned sample-train: quantizer iterations sweep ~1/5 of
        # the corpus instead of all of it; the in-cell rerank stays
        # exact, so only cell assignment (not result quality) depends
        # on the quantizer.  Deterministic (seeded sample).
        sample_fraction=0.2,
    )


def q50_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changelog compaction: the CURRENT state per (user, event_type) —
    the newest event wins, ties broken by event_id.  This is the
    \"materialize a table from the replay log\" capability a recorder
    engine owes its users (the batch twin of a streaming upsert view).
    Ordering key is the µs-floored timestamp (the cross-engine-visible
    resolution) + event_id, so the winner is deterministic on both
    engines even for same-µs collisions.

    Newest-wins is an ARGMAX: ``max(struct(us, event_id, value))`` in
    one hash aggregate.  The partial aggregate holds ONE row per live
    key per map task, so a 100 TB changelog shuffles |keys| rows, not
    |log| rows — where the row_number()==1 window shuffles and sorts
    the entire log (its single-window shape would at least get a
    WindowGroupLimit partial, but the hash-agg needs no sort at all).
    The struct comparison never reaches ``value`` because event_id is
    unique."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.select(
            "user_id",
            "event_type",
            F.struct(
                tus("ts_ns").alias("us"),
                F.col("event_id"),
                F.col("value"),
            ).alias("s"),
        )
        .groupBy("user_id", "event_type")
        .agg(F.max("s").alias("s"))
        .select(
            "user_id",
            "event_type",
            F.col("s.event_id").alias("last_event_id"),
            F.col("s.us").alias("last_us"),
            r6(F.col("s.value")).alias("last_value"),
        )
    )


def q80_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of event values (width 50): single-pass
    binning by integer floor of a double division — both engines floor
    the identical double, so bin edges are deterministic.  One
    map-side-combined shuffle on a small int key; the profile-the-
    distribution primitive behind quality dashboards."""
    ev = _t(spark, sf_dir, "events")
    bin_ = F.floor(F.col("value") / F.lit(50.0)).cast("bigint")
    return (
        ev.groupBy(bin_.alias("bin"))
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(money(F.col("value"))).cast("double").alias("total"),
        )
        .select("bin", "n", "total")
    )


def q81_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation in one pass (count_if / filtered sum):
    per user, purchase count, purchase revenue, and error rate — the
    several-metrics-one-scan shape that replaces N self-joins.  Revenue
    sums exact decimals over the filtered rows; the rate divides two
    counts and rounds (r6) for float parity."""
    ev = _t(spark, sf_dir, "events")
    is_purchase = F.col("event_type") == "purchase"
    is_error = F.col("event_type") == "error"
    return ev.groupBy("user_id").agg(
        F.count_if(is_purchase).cast("bigint").alias("n_purchase"),
        F.sum(F.when(is_purchase, money(F.col("value"))))
        .cast("double")
        .alias("revenue"),
        r6(
            F.count_if(is_error).cast("double") / F.count("*")
        ).alias("error_rate"),
    )


def q82_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling (Efraimidis–Spirakis A-ES) for
    training-mix assembly: inclusion odds ∝ n_chars, no rand() anywhere
    — the sample survives task retries and AQE re-plans bit-identical.
    Plan shape: TakeOrderedAndProject (per-partition k-heap + driver
    merge), never a global sort (guarded in test_plans.py)."""
    from ros_sql_spark.operators.sampling import weighted_sample

    docs = _t(spark, sf_dir, "documents")
    return weighted_sample(docs, "n_chars", k=100).select(
        "doc_id",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        F.col("_priority").alias("priority"),
    )


def q83_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token budgets ("data mixture"): keep each source's
    doc-id-ordered prefix whose cumulative BPE-token count fits the
    source's budget (one over-budget doc admitted at the boundary, docs
    never split).  One hash-partitioned window per source — parallel
    across sources, no global stage."""
    from ros_sql_spark.functions.text import token_count_bpe
    from ros_sql_spark.operators.sampling import token_budget_mix

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "source", token_count_bpe("text").alias("n_bpe")
    )
    out = token_budget_mix(
        toks,
        {"src0": 1200, "src1": 800, "src2": 500},
        token_col="n_bpe",
        order_by=[F.asc("doc_id")],
    )
    return out.select(
        "doc_id",
        "source",
        F.col("_n_tok").alias("n_tok"),
        F.col("_cum").alias("cum_tok"),
    )


def q84_pq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (compressed-domain search): vectors
    stored as m=8 one-byte codes (32× smaller than float32 — the 100 TB
    memory path), scored via per-query ADC lookup tables, exact-rerank
    of the top candidates.  Rows-only by nature (codebooks are learned;
    no SQL twin) — recall vs brute force asserted in
    tests/test_sampling_pq.py."""
    from ros_sql_spark.operators.pq import pq_encode, pq_knn, pq_train

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    books = pq_train(emb, dim=64, m=8, n_centroids=16, seed=7)
    codes = pq_encode(emb, books)
    return pq_knn(
        codes, queries, books, k=10, rerank=emb, rerank_factor=8
    )


def q85_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style boilerplate removal: strip 10-token passages shared
    by more than 2 documents (headers/footers/license chrome) and
    rebuild each doc from its surviving passages in order.  One passage
    explode + a narrow digest df-count + a broadcast hot-set anti-join —
    the corpus never self-joins (operators/dedup.py::remove_boilerplate)."""
    from ros_sql_spark.operators.dedup import remove_boilerplate

    docs = _t(spark, sf_dir, "documents")
    out = remove_boilerplate(docs, passage_tokens=10, max_doc_freq=2)
    return out.select("doc_id", F.md5(F.col("text").cast("binary")).alias("clean_md5"))


def q86_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join — the one join flavor the suite lacked: per-user
    click counts vs purchase counts, keeping users present on either
    side only (NULL counts mark the absent side).  Both inputs are
    pre-aggregated BEFORE the join, so the full-outer shuffle carries
    one row per user per side, never raw events — the 100 TB shape for
    outer reconciliation (aggregate early, join late)."""
    ev = _t(spark, sf_dir, "events")
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.count("*").cast("bigint").alias("n_clicks"))
    )
    buys = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count("*").cast("bigint").alias("n_buys"))
    )
    return (
        clicks.withColumnRenamed("user_id", "cu")
        .join(
            buys.withColumnRenamed("user_id", "bu"),
            F.col("cu") == F.col("bu"),
            "full_outer",
        )
        .select(
            F.coalesce(F.col("cu"), F.col("bu")).alias("user_id"),
            "n_clicks",
            "n_buys",
        )
    )


def q87_hopping_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping (sliding) event-time windows: 2-day windows advancing by
    1 day, so every event lands in exactly two windows — the
    batch twin of the Structured Streaming windowed-agg shape
    (streaming/replay.py::tumbling_counts generalizes the same way by
    passing slideDuration).  Window starts exposed as µs epochs (the
    engine's timestamp parity currency)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "2 days", "1 day").alias("w"), "event_type"
        )
        .agg(F.count("*").cast("bigint").alias("n"))
        .select(
            F.unix_micros(F.col("w.start")).alias("w_start_us"),
            "event_type",
            "n",
        )
    )


def q88_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source z-score outlier flagging (corpus length anomalies).

    Float parity discipline: mean and variance are derived from EXACT
    integer sums (sum, sum of squares, count) with the identical
    arithmetic expression on both engines, so the doubles — and the
    |z| > 2 boundary decisions — are bit-identical rather than
    at-the-mercy of each engine's streaming-variance implementation.
    Partial-agg (3 numbers per source) + broadcast join back: no
    window, no second scan of per-row state — the scale shape."""
    docs = _t(spark, sf_dir, "documents")
    stats = docs.groupBy("source").agg(
        F.sum("n_chars").alias("s"),
        F.sum(F.col("n_chars") * F.col("n_chars")).alias("ss"),
        F.count("*").alias("c"),
    )
    mean = F.col("s") / F.col("c")
    var = F.col("ss") / F.col("c") - mean * mean
    enriched = docs.join(F.broadcast(stats), "source")
    z = (F.col("n_chars") - mean) / F.sqrt(var)
    return (
        enriched.filter(var > 0)
        .filter(F.abs(z) > 2)
        .select("doc_id", "source", F.round(z, 6).alias("z"))
    )


def q89_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Levenshtein near-match candidates: same-language docs in the
    same length bucket, compared on their 40-char prefixes.  The pair
    space is GATED the way every pairwise query here is: a 5% id-hash
    sample, equi-joined on (lang, length-bucket) with id-ordered pairs
    — blocking keys bound the quadratic term, never an all-pairs
    self-join (same discipline as q32's shingle buckets)."""
    docs = _t(spark, sf_dir, "documents")
    d = docs.filter(F.col("doc_id") % 20 == 0).select(
        "doc_id",
        "lang",
        (F.col("n_chars") - F.col("n_chars") % 50).alias("bkt"),
        F.substring("text", 1, 40).alias("pfx"),
    )
    a = d.select(
        F.col("doc_id").alias("a_id"),
        "lang",
        "bkt",
        F.col("pfx").alias("a_pfx"),
    )
    b = d.select(
        F.col("doc_id").alias("b_id"),
        "lang",
        "bkt",
        F.col("pfx").alias("b_pfx"),
    )
    return (
        a.join(b, ["lang", "bkt"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select(
            "a_id",
            "b_id",
            F.levenshtein("a_pfx", "b_pfx").cast("bigint").alias("dist"),
        )
    )


def q90_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q20's decontamination at eval-sets-too-big-to-broadcast scale:
    Bloom prefilter + exact verify.  The eval shingles fold into a
    fixed-size bit-word table (operators/bloom.py — ≤ m_bits/64 rows no
    matter how many shingles), the corpus probes the broadcast BITMAP,
    and only the surviving candidate docs (true hits + ~1e-4 false
    positives) re-join their shingles against the real eval set for the
    exact answer.  No false negatives (Bloom guarantee) → the verify
    pass restores EXACTNESS, so the DuckDB oracle is the same NOT
    EXISTS as q20's.  At 100 TB the corpus-side exact join's left input
    shrinks from |corpus shingles| to |candidate-doc shingles|."""
    from ros_sql_spark.operators.bloom import bloom_contaminated_ids
    from ros_sql_spark.operators.dedup import shingle_hashes

    docs = _t(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % 100
    )
    # explode_outer: the Generate invariant (CLAUDE.md) — _hs is
    # non-empty by construction.  Lazily PINNED (round-15): four
    # consumers (bloom build via eval_sh, probe via train_sh, and both
    # verify sides) re-derived the shingle fold per reference — their
    # filters/projections differ ABOVE the shared frame, so exchange
    # reuse never fires (the qx44 rule).  The words-broadcast query
    # stage materializes the lazy pin first, so the one-action
    # double-embed hazard doesn't bite (measured: lazy ≡ eager, both
    # beat unpinned — interleaved min-of-5 1.55 → 1.45 s solo); at
    # scale this is 1 corpus shingle pass + 3 narrow-hash reads
    # instead of 4 corpus passes.
    sh = shingle_hashes(docs, "doc_id", "text", 5).select(
        "doc_id", bucket.alias("bucket"), F.explode_outer("_hs").alias("s")
    ).localCheckpoint(eager=False)
    eval_sh = sh.filter(F.col("bucket") >= 98).select("doc_id", "s")
    train_sh = sh.filter(F.col("bucket") < 80).select("doc_id", "s")
    # k=4, not the ~1e-4-FP k=10: these bits only GENERATE candidates —
    # the exact verify below erases false positives, so fewer probed
    # bits just trades a slightly larger verify input for a 2.5x
    # smaller probe fan-out (measured 1.78s -> 1.49s solo at sf0.1,
    # identical final rows; the r5 array-literal probe alternative
    # measured 2.5x SLOWER — catalyst rebuilds a lit() array per row)
    candidates = bloom_contaminated_ids(
        eval_sh, train_sh, id_col="doc_id", shingle_col="s",
        m_bits=1 << 18, k=4,
    )
    # exact verify of ONLY the candidate docs' shingles
    confirmed = (
        train_sh.join(candidates, "doc_id", "left_semi")
        .join(eval_sh.select("s"), "s", "left_semi")  # semi ≡ distinct
        .select("doc_id")
        .distinct()
    )
    return (
        docs.select("doc_id", bucket.alias("bucket"))
        .filter(F.col("bucket") < 80)
        .join(confirmed, "doc_id", "left_anti")
        .select("doc_id")
    )


def q91_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap fill (resample + forward fill): per user, daily
    purchase totals on a DENSE day axis from the user's first to last
    active day, missing days carried forward from the last observed
    value.  The dense axis is generated per user with
    ``sequence(min_day, max_day)`` — row fan-out proportional to each
    user's own span, no global calendar cross-join — and the fill is
    one ``last(ignorenulls)`` running window over the same user
    partitioning the join just produced.  Day math in exact integer
    division of ns epochs (floor-division composes: ns→day ≡ µs→day,
    so DuckDB's µs-truncated view lands identical days)."""
    ev = _t(spark, sf_dir, "events")
    day = F.expr("ts_ns div 86400000000000")
    daily = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.col("user_id"), day.alias("d"))
        .agg(F.sum(money(F.col("value"))).alias("_v"))
    )
    span = daily.groupBy("user_id").agg(
        F.min("d").alias("_d0"), F.max("d").alias("_d1")
    )
    axis = span.select(
        "user_id",
        # sequence is total here (_d0 <= _d1 by construction)
        F.explode_outer(F.sequence("_d0", "_d1")).alias("d"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        axis.join(daily, ["user_id", "d"], "left")
        .select(
            "user_id",
            "d",
            F.col("_v").isNotNull().alias("observed"),
            F.last("_v", ignorenulls=True).over(w).cast("double").alias("v_filled"),
        )
    )


def q92_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users cohorted by first-activity week,
    counted per (cohort_week, weeks-since-cohort) cell.  Aggregate
    early: the raw log collapses to DISTINCT (user, day) before
    anything joins, the per-user cohort comes from a groupBy min (not a
    window over the log), and the final cell count re-uses the user_id
    hash partitioning.  At 100 TB the only full-log pass is the first
    distinct; everything after is |users × active-days| rows."""
    ev = _t(spark, sf_dir, "events")
    day = F.expr("ts_ns div 86400000000000")
    ua = ev.select("user_id", day.alias("d")).distinct()
    cohort = ua.groupBy("user_id").agg(F.min("d").alias("_c0"))
    return (
        ua.join(cohort, "user_id")
        .select(
            "user_id",
            F.expr("_c0 div 7").alias("cohort_week"),
            F.expr("(d - _c0) div 7").alias("week_offset"),
        )
        .distinct()
        .groupBy("cohort_week", "week_offset")
        .agg(F.count("*").cast("bigint").alias("n_users"))
    )


def q93_word_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unigram (word) entropy — the information-density
    quality signal LLM pipelines use to drop degenerate/templated text.
    entropy = ln(n) − Σ c·ln(c) / n over the doc's token counts:
    derived from EXACT integer counts with the identical expression on
    both engines (the q88 float-parity discipline), so the doubles
    match bit-for-bit.  One token explode + two partial aggregations,
    both on the doc_id partitioning — a single exchange."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode_outer(F.split(F.lower("text"), " ")).alias("term")
    ).filter(F.col("term").isNotNull())
    toks = toks.repartition("doc_id")
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("c"))
    return tf.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_tok"),
        r6(
            F.log(F.sum("c").cast("double"))
            - F.sum(F.col("c").cast("double") * F.log(F.col("c").cast("double")))
            / F.sum("c").cast("double")
        ).alias("entropy"),
    )


def q94_seq_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-sequence pattern match (MATCH_RECOGNIZE-lite): per user,
    the µs+event_id-ordered event-type string, tested against
    ``view → click → purchase`` (anything between stages).  State is
    one ordered list per user — collect, array_sort, join: bounded by
    the user's own history, never a global sort (the q49 ordered-agg
    shape applied to sequence mining).  Ordering ties break on
    event_id per the same-µs collision rule (tests/test_time_edges.py)."""
    ev = _t(spark, sf_dir, "events")
    seq = F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        tus("ts_ns").alias("us"),
                        F.col("event_id"),
                        F.col("event_type"),
                    )
                )
            ),
            lambda x: x["event_type"],
        ),
        " ",
    )
    return ev.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_events"),
        seq.rlike("view.* click.* purchase").alias("hit"),
    )


def q95_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded contamination scoring: per eval doc (q22 buckets ≥ 98),
    the FRACTION of its 5-token shingles that appear anywhere in the
    train split (buckets < 80) — asymmetric containment
    |A ∩ train| / |A|, the quantity behind contamination reports (q20's
    binary drop is its ``containment > 0`` special case).  The train
    shingles semi-join the tiny eval side on the 8-byte hash WITHOUT a
    pre-distinct — a LEFT SEMI already has at-most-once match
    semantics, so the distinct's extra full shuffle+agg of the train
    side bought nothing (measured 1.59s -> 1.11s at sf0.1, identical
    rows); shuffle carries hashes only, and only the eval side is ever
    aggregated per doc.  Hash-membership ≡ string-membership modulo
    2^-64 collisions; the string-building oracle is the collision check
    (q20's discipline)."""
    from ros_sql_spark.operators.dedup import shingle_hashes

    docs = _t(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % 100
    )
    sh = shingle_hashes(docs, "doc_id", "text", 5).select(
        "doc_id", bucket.alias("bucket"), F.explode_outer("_hs").alias("s")
    )
    eval_sh = (
        sh.filter(F.col("bucket") >= 98).select("doc_id", "s").distinct()
    )
    train_s = sh.filter(F.col("bucket") < 80).select("s")
    matched = (
        eval_sh.join(train_s, "s", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").alias("_m"))
    )
    totals = eval_sh.groupBy("doc_id").agg(F.count("*").alias("_t"))
    return (
        totals.join(matched, "doc_id", "left")
        .select(
            "doc_id",
            F.col("_t").cast("bigint").alias("n_shingles"),
            F.coalesce(F.col("_m"), F.lit(0)).cast("bigint").alias("n_matched"),
            r6(
                F.coalesce(F.col("_m"), F.lit(0)).cast("double")
                / F.col("_t").cast("double")
            ).alias("containment"),
        )
    )


def q96_first_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch attribution: per user, the first / second / last
    event type and the µs gap between touch 1 and touch 2 — the
    first_value / nth_value / last_value / full-frame window battery
    (q47/q56/q64 cover frames and lag; these value-position functions
    were the remaining window surface).  One shuffle: both window
    passes and the rn=1 filter share the user_id partitioning; ties
    break on event_id per the same-µs collision rule."""
    ev = _t(spark, sf_dir, "events")
    base = ev.select(
        "user_id", "event_type", tus("ts_ns").alias("us"), "event_id"
    )
    order = [F.asc("us"), F.asc("event_id")]
    wfull = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    wseq = Window.partitionBy("user_id").orderBy(*order)
    return (
        base.withColumn("first_type", F.first_value("event_type").over(wfull))
        .withColumn("second_type", F.nth_value("event_type", 2).over(wfull))
        .withColumn("last_type", F.last_value("event_type").over(wfull))
        .withColumn(
            "gap_us",
            F.nth_value("us", 2).over(wfull) - F.first_value("us").over(wfull),
        )
        .withColumn("_rn", F.row_number().over(wseq))
        .filter(F.col("_rn") == 1)
        .select("user_id", "first_type", "second_type", "last_type", "gap_us")
    )


def q97_extract_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lightweight entity extraction (regexp_extract_all): per document,
    counts of number tokens and Capitalized words plus the first number
    literal — the profile-what's-in-the-text primitive behind PII
    audits and metadata backfills.  Patterns are chosen to mean the
    same thing in Java regex (Spark) and RE2 (DuckDB); pure projection,
    shuffle-free, whole-stage-codegen'd."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.expr("regexp_extract_all(text, '[0-9]+', 0)"))
        .cast("bigint")
        .alias("n_numbers"),
        F.size(F.expr("regexp_extract_all(text, '[A-Z][a-z]+', 0)"))
        .cast("bigint")
        .alias("n_capwords"),
        F.regexp_extract("text", "[0-9]+", 0).alias("first_number"),
    )


def q98_skew_split_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Big-big equi-join through the explicit hot-key split operator
    (operators/skew.py::split_skew_join) — q48's JOIN sibling under the
    driver gate.  The two hottest users' rows take a salted join (left
    spread over 8 composite buckets, right replicated 8×); every other
    user takes the plain equi-join; the union is provably row-identical
    to the ordinary join, which is exactly what the DuckDB oracle runs.
    At 100 TB this is the differentiated-join answer for skew AQE can't
    split (pre-partitioned/bucketed inputs — no exchange to re-chop).

    The hot set comes from the BOUNDED sampled census a production
    caller runs (operators/skew.py::detect_hot_keys — seeded sample,
    RELATIVE threshold so "hot" scales with the data, top-``max_keys``
    cap so the driver list, the salted path's replication factor, and
    the plan size never grow with key cardinality at 100×): the 16
    hottest users take the salted join, everyone else the plain
    equi-join, and both paths carry real rows under the parity gate at
    any sf.  The union is row-identical to the plain equi-join WHATEVER
    the census returns — which is exactly what the DuckDB oracle runs."""
    from ros_sql_spark.operators.skew import detect_hot_keys, split_skew_join

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "event_type")
    per_user = ev.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("u_events")
    )
    hot = detect_hot_keys(
        ev,
        "user_id",
        sample_fraction=0.5,
        min_sampled_rows=1,
        min_sampled_fraction=0.0005,
        max_keys=16,
        seed=42,
    )
    joined = split_skew_join(
        ev,
        per_user,
        key="user_id",
        hot_keys=hot,
        buckets=8,
        salt_src="event_id",
    )
    return joined.select("event_id", "user_id", "u_events")


def q99_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus report card: doc count, exact-dup rate, mean
    length, and dominant language — the one-glance table a curation run
    starts from.  One scan feeds all metrics: count + distinct-digest
    (two-phase, partial-agged) + exact integer mean; the dominant lang
    is a window-free argmax over per-(source, lang) counts (q50's
    max-of-struct shape — ties break toward the lexicographically LAST
    lang, encoded identically in the oracle's ORDER BY)."""
    docs = _t(spark, sf_dir, "documents")
    base = docs.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.countDistinct(F.md5(F.col("text").cast("binary"))).cast("bigint").alias("n_distinct"),
        r6(F.sum("n_chars") / F.count("*")).alias("mean_chars"),
    )
    lang_counts = docs.groupBy("source", "lang").agg(F.count("*").alias("_n"))
    top_lang = (
        lang_counts.groupBy("source")
        .agg(F.max(F.struct(F.col("_n"), F.col("lang"))).alias("_s"))
        .select("source", F.col("_s.lang").alias("top_lang"))
    )
    return (
        base.join(top_lang, "source")
        .select(
            "source",
            "n_docs",
            r6(
                F.lit(1.0)
                - F.col("n_distinct").cast("double") / F.col("n_docs")
            ).alias("dup_rate"),
            "mean_chars",
            "top_lang",
        )
    )


def qx00_kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable cardinality sketches (operators/sketch.py): per
    event-type pair, KMV bottom-64 estimates of distinct users, their
    union, Jaccard, and intersection — computed from the ≤64-row
    sketches alone, never re-touching the raw sets (the audience-
    overlap shape that at 100 TB replaces an exact distinct-of-union
    shuffle per pair).  The 60-bit md5-prefix hash is deterministic and
    identical in DuckDB, so the ORACLE REPRODUCES THE ESTIMATES
    bit-for-bit — a sketch query with a value-exact oracle (q31's
    cross-engine-hash discipline applied to cardinality sketching)."""
    from ros_sql_spark.operators.sketch import kmv_pair_overlap, kmv_sketch

    ev = _t(spark, sf_dir, "events")
    sk = kmv_sketch(
        ev.select("event_type", "user_id"), "event_type", "user_id", k=64
    )
    return kmv_pair_overlap(sk, "event_type", k=64)


def qx01_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct users per observed day — EXACT rolling
    cardinality (no window function can express distinct-over-range;
    the scalable shape is the (user, day) pre-distinct — collapsing
    raw events to bounded rows — fanned out to the ≤7 trailing axis
    days it contributes to, then one count-distinct per day).  Day
    math in integer ns floor-division (composes with DuckDB's µs
    truncation, q91's discipline)."""
    ev = _t(spark, sf_dir, "events")
    day = F.expr("ts_ns div 86400000000000")
    ud = ev.select("user_id", day.alias("d")).distinct()
    # activity on day d counts toward trailing windows of days d..d+6
    fan = ud.select(
        "user_id",
        F.explode_outer(
            F.sequence(F.col("d"), F.col("d") + F.lit(6))
        ).alias("d7"),
    )
    obs_days = ud.select(F.col("d").alias("d7")).distinct()
    return (
        fan.join(obs_days, "d7", "left_semi")
        .groupBy("d7")
        .agg(F.countDistinct("user_id").cast("bigint").alias("u7"))
        .select(F.col("d7").alias("d"), "u7")
    )


def qx02_setsim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact set-similarity self-join over the WHOLE corpus
    (operators/dedup.py::setsim_join): all doc pairs with 5-token
    shingle-set Jaccard ≥ 0.5, found via PPJoin-style prefix filtering
    — only each set's rarest n−⌈t·n⌉+1 shingles enter the candidate
    join (frequent shingles, the skew problem, never join at all), and
    the exact verify restores precision.  Completes the similarity
    triptych: q26 approximate-at-scale, q32 exact-but-quadratic-gated,
    qx02 exact-at-scale.  The oracle is the brute-force quadratic
    (feasible at sf0.01), which the prefix filter provably never
    under-produces."""
    from ros_sql_spark.operators.dedup import setsim_join

    docs = _t(spark, sf_dir, "documents")
    return setsim_join(docs, "doc_id", "text", threshold=0.5, k=5)


def qx03_countmin_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min frequency estimation (operators/sketch.py::cm_build/
    cm_estimate): per-user event counts read back from a 4×64 counter
    table — depth·width rows TOTAL regardless of stream size, the
    bounded-memory sketch behind heavy-hitter monitoring at 100 TB
    (the raw per-key distribution never materializes; the width is
    deliberately smaller than the key cardinality so collisions are
    exercised).  Deterministic md5-prefix hash family → the oracle
    rebuilds the identical counter table in SQL and reproduces every
    estimate exactly (the sketch-with-value-exact-oracle discipline of
    qx00)."""
    from ros_sql_spark.operators.sketch import cm_build, cm_estimate

    ev = _t(spark, sf_dir, "events")
    counters = cm_build(ev, "user_id", depth=4, width=64)
    users = ev.select("user_id").distinct()
    return cm_estimate(users, counters, "user_id", depth=4, width=64).select(
        "user_id", F.col("est").cast("bigint").alias("est_events")
    )


def qx04_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized robust statistics per language: clamp n_chars to its
    group's [p05, p95] (q44's interpolated-percentile idiom) and
    average the clamped values — outlier-robust means without dropping
    rows (the robust-stats sibling of q88's z-score OUTLIER listing).
    Per-group bounds via the rank-based exact-percentile operator
    (q44's memory-bounded form — a language's full n_chars multiset
    never buffers in one task), then one broadcast of the bounds
    (|langs| rows); the float mean rounds at 6 dp with the q88/q93
    sum-order argument (~1e-13 relative error vs the 5e-7 boundary)."""
    from ros_sql_spark.operators.percentile import exact_percentiles

    docs = _t(spark, sf_dir, "documents")
    pcts = exact_percentiles(
        docs, ["lang"], "n_chars", {"_lo": 0.05, "_hi": 0.95}
    )
    clamped = F.greatest(
        F.least(F.col("n_chars").cast("double"), F.col("_hi")), F.col("_lo")
    )
    return (
        docs.join(F.broadcast(pcts), "lang")
        .groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            r6(F.avg(clamped)).alias("winsorized_mean"),
            r6(F.min("_lo")).alias("p05"),
            r6(F.min("_hi")).alias("p95"),
        )
    )


def qx05_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketch (operators/sketch.py::quantile_sketch)
    — the third member of the sketch family (cardinality = qx00 KMV,
    frequency = qx03 Count-Min, quantiles = this): a deterministic
    bottom-k-by-hash ROW sample per event type, estimated with the
    rank-based interpolated percentile over the ≤ k sampled values.

    100 TB story: state is O(groups·k) forever, merges are associative
    (streaming twin streaming/sketch.py::quantile_sketch_stream,
    batch-equivalence asserted in tests), and unlike approx_percentile
    (q45) the sample is DETERMINISTIC — the md5-prefix hash ranks every
    row once and forever — so the DuckDB oracle rebuilds the sketch and
    reproduces every estimate bit-for-bit (the qx00/qx03 sketch-parity
    discipline, CLAUDE.md)."""
    from ros_sql_spark.operators.sketch import (
        quantile_estimate,
        quantile_sketch,
    )

    ev = _t(spark, sf_dir, "events")
    sk = quantile_sketch(ev, "event_type", "value", "event_id", k=128)
    est = quantile_estimate(sk, "event_type", {"_p50": 0.5, "_p90": 0.9})
    return est.select(
        "event_type",
        "n_sample",
        r6(F.col("_p50")).alias("p50_est"),
        r6(F.col("_p90")).alias("p90_est"),
    )


def qx06_curate_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED curation pipeline under the driver gate: every
    stage of curate() is individually gated (q85 boilerplate, q21
    quality, q25 exact dedup) but until this query their COMPOSITION
    was only test/scale_drive-verified.  Runs
    pipeline.curate(boilerplate_max_df=2, near_dup_threshold=None) —
    boilerplate strip → quality gate → exact dedup, each stage seeing
    only the previous stage's survivors — and emits the kept set as
    (doc_id, digest-of-curated-text).  near_dup is switched OFF
    because MinHash banding has no exact SQL replay (q26 is rows-only
    by contract); every remaining stage does, so the DuckDB oracle
    replays the full composition and the driver hash checks the
    pipeline END-TO-END, rebuilt text bytes included."""
    from ros_sql_spark.pipeline import curate

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    res = curate(docs, boilerplate_max_df=2, near_dup_threshold=None)
    return res.docs.select(
        "doc_id", F.md5(F.col("text").cast("binary")).alias("digest")
    )


def qx07_setsim_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact set-similarity INGEST under the driver gate
    (operators/dedup.py::setsim_index + setsim_join_incremental): the
    corpus is split base (doc_id % 4 != 0) / batch (% 4 == 0), the base
    is indexed once — (sets, prefix, freq) frozen projections — and the
    batch probes it for (new × base) ∪ (new × new) exact-Jaccard pairs,
    never re-pairing the base with itself.  The oracle is ground truth
    itself: the qx02 brute-force quadratic restricted to pairs touching
    the batch — which the incremental prefix filter provably never
    under-produces and the exact verify never over-produces, so values
    match exactly (same rounded-for-output-only boundary as qx02)."""
    from ros_sql_spark.operators.dedup import (
        setsim_index,
        setsim_join_incremental,
    )

    docs = _t(spark, sf_dir, "documents")
    base = docs.filter(F.col("doc_id") % 4 != 0)
    new = docs.filter(F.col("doc_id") % 4 == 0)
    return setsim_join_incremental(
        new, setsim_index(base, threshold=0.5, k=5), threshold=0.5, k=5
    )


def qx08_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean negative log-likelihood under the corpus's own
    unigram MLE — the perplexity-style quality filter LLM pipelines run
    when no external LM is available (CCNet uses a real LM; the unigram
    self-model is its dependency-free floor): templated/degenerate docs
    score low (their tokens are corpus-frequent), lexically rich ones
    high.  nll = ln(N) − Σ c_dt·ln(C_t) / n_d over the doc's term
    counts c_dt, corpus counts C_t, corpus size N — exact integer
    counts feeding the identical double expression on both engines
    (q93's float-parity discipline).  Plan: one token explode, tf on
    the doc_id partitioning, corpus counts as a REUSED second partial
    over tf, the scalar N broadcast via the 1-row-aggregate crossJoin
    (q36's idiom), one term-keyed join — no windows, no collects."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode_outer(F.split(F.lower("text"), " ")).alias("term")
    ).filter(F.col("term").isNotNull())
    tf = toks.repartition("doc_id").groupBy("doc_id", "term").agg(
        F.count("*").alias("c")
    )
    corpus = tf.groupBy("term").agg(F.sum("c").alias("ct"))
    n_total = corpus.agg(F.sum("ct").cast("double").alias("n_corpus"))
    return (
        tf.join(corpus, "term")
        .crossJoin(F.broadcast(n_total))
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("bigint").alias("n_tok"),
            r6(
                F.log(F.first("n_corpus"))
                - F.sum(
                    F.col("c").cast("double")
                    * F.log(F.col("ct").cast("double"))
                )
                / F.sum("c").cast("double")
            ).alias("nll"),
        )
    )


def qx09_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real BPE, end-to-end: learn a merge table from the corpus itself
    (operators/bpe.py::bpe_train — word histogram once, then one tiny
    argmax job per merge; the Sennrich formulation) and re-tokenize
    every document with it (bpe_encode — the priority-loop encode as an
    Arrow pandas_udf; the merge table is driver state, vocab-budget-
    bounded, never data-sized).  Upgrades q37's BPE-ish regex counting
    to a trained tokenizer.  Rows-only by nature: the merge schedule is
    an iterative argmax recursion no SQL replays — its correctness gate
    is the bit-for-bit pure-Python-reference equality in tests/
    test_bpe.py, the q40-recall style of contract."""
    from ros_sql_spark.operators.bpe import bpe_encode, bpe_train

    docs = _t(spark, sf_dir, "documents")
    merges = bpe_train(docs, num_merges=6, max_words=2000)
    return bpe_encode(docs, merges).orderBy("doc_id")


def qx10_components_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dup-cluster MAINTENANCE under the driver gate
    (operators/dedup.py::connected_components_incremental): the q15
    graph arrives in two installments — base components over the
    doc_id<30 slice, then the edges touching docs 30–39 as an ingest
    increment.  The increment runs on the CONTRACTED graph (each
    endpoint mapped to its base representative; propagation sized by
    touched components + fresh nodes, never the corpus) and one join
    rewrites the moved labels.  Final labels equal the full recompute,
    so the oracle is q15's recursive-CTE reachability closure verbatim
    — the driver hash-checks that incremental == from-scratch."""
    from ros_sql_spark.operators.dedup import (
        connected_components,
        connected_components_incremental,
    )

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 40)
    pairs = q32_ngram_jaccard(spark, sf_dir).filter(F.col("jaccard") >= 0.001)
    # one lazy pin: the edge pipeline feeds the base loop's checkpoint,
    # the contracted loop's checkpoint AND the fresh-node derivation —
    # three materializations of the same quadratic scoring without it
    edges = pairs.select(
        F.col("doc_a").alias("id_a"), F.col("doc_b").alias("id_b")
    ).localCheckpoint(eager=False)
    base_edges = edges.filter(
        (F.col("id_a") < 30) & (F.col("id_b") < 30)
    )
    inc_edges = edges.filter(
        (F.col("id_a") >= 30) | (F.col("id_b") >= 30)
    )
    base = connected_components(
        base_edges,
        nodes=docs.filter(F.col("doc_id") < 30).select("doc_id"),
        id_col="doc_id",
    )
    out = connected_components_incremental(
        inc_edges,
        base,
        id_col="doc_id",
        new_nodes=docs.filter(F.col("doc_id") >= 30).select("doc_id"),
    )
    return out.select(
        "doc_id", F.col("component").cast("bigint").alias("component")
    )


def qx11_shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-dataset SHARDING (operators/sampling.py::
    shard_assignment — num_shards now a parameter with a documented
    power-of-two growth rule): every doc gets a (shard, position)
    address for the dataloader.  Every window is partitioned by shard
    — num_shards independent spillable sorts, no single-partition
    stage anywhere."""
    from ros_sql_spark.operators.sampling import shard_assignment

    docs = _t(spark, sf_dir, "documents")
    return shard_assignment(docs, id_col="doc_id", num_shards=16)


def qx12_epoch_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-aware data mixture: each source gets an integer epoch
    factor (how many times its docs repeat in the training mix — the
    up-sampling half of the token-budget cut in q83), and every doc
    expands to (doc_id, epoch 0..factor-1) rows.  The factor table is a
    broadcast dim; the expansion is one JVM sequence explode (no
    Python, no join fan-out beyond the intended repetition).  A row's
    mix_order = md5(doc_id # epoch) gives a deterministic interleave so
    repeated copies of a doc spread across the mix instead of
    clustering."""
    docs = _t(spark, sf_dir, "documents")
    factors = spark.createDataFrame(
        [("src0", 1), ("src1", 3), ("src2", 2), ("src3", 4)],
        "source string, epochs int",
    )
    mix_order = F.md5(
        F.concat_ws("#", F.col("doc_id").cast("string"), F.col("epoch"))
    )
    return (
        docs.join(F.broadcast(factors), "source")
        .select(
            "doc_id",
            "source",
            F.explode_outer(
                F.sequence(F.lit(0), F.col("epochs") - 1)
            ).alias("epoch"),
        )
        .filter(F.col("epoch").isNotNull())
        .select(
            "doc_id",
            "source",
            F.col("epoch").cast("bigint").alias("epoch"),
            mix_order.alias("mix_order"),
        )
    )


def qx13_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape (round-7 directive: deep multi-join trees): the
    unshipped-orders revenue top-10 over customer⋈orders⋈lineitem with
    selective segment + date filters.

    100 TB plan shape (pinned in tests/test_plans.py):
    - the segment-filtered customer KEY SET joins orders as a LEFT
      SEMI (no customer payload is needed — semi ships only c_custkey
      and never widens the fact rows).  UNHINTED deliberately: a 1/5
      keyset is bench-small but grows with the corpus (data-sized at
      100 TB), so the size heuristic decides — broadcast while it
      fits, shuffle semi beyond (round-8 review: an explicit hint is
      honored at ANY size and AQE never demotes it);
    - both date filters reach the parquet scans (PushedFilters);
    - lineitem⋈orders is the ONE fact-fact shuffle join;
    - revenue sums in DECIMAL before the double output boundary;
    - top-10 via TakeOrdered (orderBy+limit — never a global sort),
      with l_orderkey as the deterministic tiebreak.
    """
    cust = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") < F.lit("1998-07-01").cast("timestamp"))
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
        .join(cust, F.col("o_custkey") == F.col("c_custkey"), "left_semi")
    )
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") > F.lit("1998-07-01").cast("timestamp"))
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    _dp = disc_price()
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(_dp).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("o_orderdate"), F.asc("l_orderkey"))
        .limit(10)
    )


def qx14_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-table star — revenue by nation where customer
    and supplier share the nation, region- and year-filtered.

    100 TB plan shape: region⋈nation collapses to a broadcast key set
    BEFORE touching facts; customer and supplier pick up (nationkey,
    n_name) through that broadcast; the date-filtered orders join the
    region-cut customers via SHUFFLE on custkey — a 1/5-of-customers
    slice is still data-sized at 100 TB, so broadcasting it would ship
    terabytes to every executor (round-8 review: the original hint
    did exactly that; explicit broadcasts are honored regardless of
    size and AQE never demotes them — qx16/qx19 already refused the
    same trap); lineitem⋈orders is the second fact-spine shuffle; the
    supplier probe is a broadcast with the Q5 twist (c_nationkey ==
    s_nationkey) as a join-level predicate, never a post-join filter
    over a wider cartesian fan."""
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = (
        _t(spark, sf_dir, "nation")
        .join(F.broadcast(region),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .select("n_nationkey", "n_name")
    )
    cust = (
        _t(spark, sf_dir, "customer")
        .join(F.broadcast(nation),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", "c_nationkey", "n_name")
    )
    supp = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(nation.select("n_nationkey")),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_nationkey")
    )
    orders = (
        _t(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .select("o_orderkey", "o_custkey")
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select("o_orderkey", "c_nationkey", "n_name")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    _dp = disc_price()
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(
            F.broadcast(supp),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy("n_name")
        .agg(F.sum(_dp).cast("double").alias("revenue"))
    )


def qx15_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by returned-item revenue in a
    quarter, with customer⋈nation detail columns.

    100 TB plan shape — aggregate EARLY, join dims LATE: the fact spine
    (returnflag-filtered lineitem ⋈ quarter-filtered orders, the one
    shuffle join) pre-aggregates revenue per o_custkey (map-side
    partial combine shrinks the shuffle), takes the top 20 THERE
    (TakeOrdered over ≤|active customers| rows), and only then probes
    the customer⋈nation dims — a 20-row broadcast against the dim scan
    instead of widening every fact row with four customer columns
    before the aggregation.  custkey breaks revenue ties
    deterministically."""
    orders = (
        _t(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1997-07-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-10-01").cast("timestamp"))
        )
        .select("o_orderkey", "o_custkey")
    )
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    _dp = disc_price()
    top = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_custkey")
        .agg(F.sum(_dp).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("o_custkey"))
        .limit(20)
    )
    cust = (
        _t(spark, sf_dir, "customer")
        .join(
            F.broadcast(_t(spark, sf_dir, "nation")
                        .select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey", "c_name", "c_acctbal", "n_name")
    )
    return cust.join(
        F.broadcast(top), F.col("c_custkey") == F.col("o_custkey")
    ).select("c_custkey", "c_name", "c_acctbal", "n_name", "revenue")


def qx16_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: shipping volume between a NATION PAIR per year —
    the multi-join tree with TWO DIFFERENT shuffle keys on the fact
    spine (orderkey then custkey), which qx13–qx15 don't exercise.

    100 TB plan shape: supplier and customer are each cut to the two
    nations FIRST (broadcast nation probe — the earliest possible
    semi-reduction of both fact joins); lineitem⋈supplier is a
    broadcast (supplier is the small dim even unfiltered); the spine
    then shuffles twice — lineitem⋈orders on orderkey, result⋈customer
    on custkey (customer cut to 2/25 nations is still data-sized at
    100 TB, so it is NOT broadcastable and the shuffle states intent);
    the cross-nation pair predicate lands at the LAST join where both
    nation columns exist, keeping it a join condition rather than a
    post-join filter.  Year extraction before aggregation; decimal
    revenue discipline; deterministic output order is the group key."""
    pair = ("NATION_3", "NATION_7")
    nations = (
        _t(spark, sf_dir, "nation")
        .filter(F.col("n_name").isin(*pair))
        .select("n_nationkey", "n_name")
    )
    supp = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(nations),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = (
        _t(spark, sf_dir, "customer")
        .join(F.broadcast(nations),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .select("l_orderkey", "l_suppkey", "l_shipdate",
                "l_extendedprice", "l_discount")
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    _dp = disc_price()
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(
            cust,
            (F.col("o_custkey") == F.col("c_custkey"))
            & (F.col("supp_nation") != F.col("cust_nation")),
        )
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("bigint").alias("l_year"),
        )
        .agg(F.sum(_dp).cast("double").alias("revenue"))
    )


def qx17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue loss from small-quantity orders of one
    brand's parts — the CORRELATED PER-KEY AVERAGE pattern (each
    lineitem compares against the mean quantity of ITS part).

    100 TB plan shape: the brand cut broadcasts onto lineitem FIRST
    (both the average and the probe see only brand parts — the
    selective dim filter semi-reduces the fact before any shuffle);
    the per-part averages come from one hash aggregation keyed by
    l_partkey, and the probe joins back on that SAME key — the
    aggregate side arrives already hash-partitioned by l_partkey, so
    only the probe side shuffles (exchange reuse on the agg branch).
    The threshold comparison is a join-level predicate; one global sum
    follows (single scalar — partial-aggregated, no data funnel)."""
    parts = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#12")
        .select("p_partkey")
    )
    li = (
        _t(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_quantity", "l_extendedprice")
        .join(F.broadcast(parts), F.col("l_partkey") == F.col("p_partkey"),
              "left_semi")
    )
    # threshold qty < 0.2·avg(qty) recast integer-exact as
    # qty·5·count < sum: quantities are integral, so sum and count are
    # exact in double on BOTH engines regardless of partition/summation
    # order — no float-boundary row can flip between Spark and the
    # oracle (avg() would divide first and reintroduce one ulp of
    # engine-dependent rounding at the comparison).
    avg_qty = li.groupBy("l_partkey").agg(
        F.sum("l_quantity").alias("_sq"),
        F.count(F.lit(1)).cast("double").alias("_cn"),
    )
    return (
        li.join(
            avg_qty.select(F.col("l_partkey").alias("_pk"), "_sq", "_cn"),
            (F.col("l_partkey") == F.col("_pk"))
            & (F.col("l_quantity") * F.lit(5.0) * F.col("_cn")
               < F.col("_sq")),
        )
        .agg(
            r6(
                F.sum(money("l_extendedprice")).cast("double")
                / F.lit(7.0)
            ).alias("avg_yearly")
        )
    )


def qx18_lone_returned_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who were the ONLY supplier returning
    items on a finalized multi-supplier order — the DOUBLE FACT
    SELF-JOIN pattern (one semi, one anti, both against the same fact
    on the same key with an inequality side-condition), which no other
    query in the suite exercises.

    100 TB plan shape: the candidate side is cut first (returnflag +
    one-nation supplier broadcast + status-filtered orders semi-join);
    both self-joins hash on l_orderkey — the SEMI (another supplier
    exists on the order) ships only (orderkey, suppkey) pairs and the
    ANTI (no OTHER supplier returned) ships only the R-filtered subset;
    at 100 TB all three legs co-partition on orderkey so AQE plans
    them as consecutive shuffle joins with no re-partition between.
    No distinct before the semi (semi already has at-most-once match
    semantics — CLAUDE.md).  Top-10 by count with name tiebreak via
    TakeOrdered."""
    nation = (
        _t(spark, sf_dir, "nation")
        .filter(F.col("n_name") == "NATION_5")
        .select("n_nationkey")
    )
    supp = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(nation),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name")
    )
    orders_f = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey")
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    l1 = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_suppkey")
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders_f, F.col("l_orderkey") == F.col("o_orderkey"),
              "left_semi")
    )
    l2 = li.select(
        F.col("l_orderkey").alias("_ok2"), F.col("l_suppkey").alias("_sk2")
    )
    l3 = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select(F.col("l_orderkey").alias("_ok3"),
                F.col("l_suppkey").alias("_sk3"))
    )
    return (
        l1.join(
            l2,
            (F.col("l_orderkey") == F.col("_ok2"))
            & (F.col("l_suppkey") != F.col("_sk2")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l_orderkey") == F.col("_ok3"))
            & (F.col("l_suppkey") != F.col("_sk3")),
            "left_anti",
        )
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(10)
    )


def qx19_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of a region's revenue for one
    part type, per year — the deepest join tree in the suite (seven
    table instances: lineitem, part, supplier, nation×2, orders,
    customer, region) ending in a RATIO OF CONDITIONAL SUMS.

    100 TB plan shape, most-selective-first: the part-type cut
    broadcasts onto lineitem before anything else (the largest
    single reducer); supplier⋈nation broadcasts supp_nation in; the
    spine shuffles lineitem⋈orders on orderkey, then ⋈customer on
    custkey with the customer side SEMI-reduced to the region first
    (region⋈nation keys broadcast onto customer — at 100 TB a 1/5
    region cut of customer stays data-sized, so the custkey join
    shuffles and the semi-reduction is what keeps it lean); the
    share is two conditional sums in one aggregation pass (never two
    scans), decimal inside, round(…,6) at the double boundary."""
    part_cut = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_type") == "PROMO")
        .select("p_partkey")
    )
    n_supp = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("_snk"),
        F.col("n_name").alias("supp_nation"),
    )
    supp = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(n_supp), F.col("s_nationkey") == F.col("_snk"))
        .select("s_suppkey", "supp_nation")
    )
    region_keys = (
        _t(spark, sf_dir, "nation")
        .join(
            F.broadcast(
                _t(spark, sf_dir, "region")
                .filter(F.col("r_name") == "AMERICA")
            ),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("n_nationkey")
    )
    cust = (
        _t(spark, sf_dir, "customer")
        .join(F.broadcast(region_keys),
              F.col("c_nationkey") == F.col("n_nationkey"), "left_semi")
        .select("c_custkey")
    )
    orders = (
        _t(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .select("o_orderkey", "o_custkey", "o_orderdate")
    )
    li = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey", "l_suppkey",
                "l_extendedprice", "l_discount")
        .join(F.broadcast(part_cut),
              F.col("l_partkey") == F.col("p_partkey"), "left_semi")
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
    )
    vol = disc_price()
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, F.col("o_custkey") == F.col("c_custkey"), "left_semi")
        .select(
            F.year("o_orderdate").cast("bigint").alias("o_year"),
            vol.alias("_vol"),
            F.col("supp_nation"),
        )
    )
    target = F.when(
        F.col("supp_nation") == "NATION_1", F.col("_vol")
    ).otherwise(F.lit(0).cast("decimal(18,2)"))
    return (
        joined.groupBy("o_year")
        .agg(
            r6(
                F.sum(target).cast("double")
                / F.sum(F.col("_vol")).cast("double")
            ).alias("mkt_share")
        )
    )


def qx20_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: orders whose total quantity clears a HAVING
    threshold, re-joined to their own fact detail — the
    AGGREGATE-THEN-REJOIN-SAME-KEY pattern.

    100 TB plan shape: the HAVING aggregation keys by l_orderkey and
    its survivors join orders on that SAME key — the aggregate side
    arrives already hash-partitioned (exchange reuse: no second
    shuffle of the agg output), and orders shuffles once; the customer
    detail join shuffles on custkey (customer is data-sized — not
    broadcastable); top-20 via TakeOrdered with orderkey tiebreak.
    sum_qty is a sum of integral doubles (exact) surfaced as BIGINT on
    both engines."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("_sq"))
        .filter(F.col("_sq") > F.lit(300.0))
        .select("l_orderkey", F.col("_sq").cast("bigint").alias("sum_qty"))
    )
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        big.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_custkey", "c_name", "o_orderkey",
            "o_orderdate", "o_totalprice", "sum_qty",
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(20)
    )


def qx21_inactive_high_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: high-balance customers with NO recent orders,
    rolled up by nation — the GLOBAL-SCALAR-THRESHOLD + ANTI-JOIN
    pattern (each row compares against one corpus-wide aggregate, then
    anti-joins the fact).

    100 TB plan shape: the positive-balance average is ONE 1-row
    aggregate broadcast onto customer (never a window, never a
    collect); the comparison is recast multiplication-exact —
    acctbal·n > total in DECIMAL — so no engine-dependent division
    rounding can flip a boundary row; the no-recent-orders test is a
    shuffle LEFT ANTI on custkey against the date-filtered order keys
    (both sides data-sized at 100 TB; the date cut is pushed to the
    orders scan).  Output keyed by nation, counts and decimal-summed
    balances."""
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", money("c_acctbal").alias("_bal")
    )
    pos = cust.filter(F.col("_bal") > F.lit(0).cast("decimal(18,2)"))
    thresh = pos.agg(
        F.sum("_bal").alias("_total"),
        F.count(F.lit(1)).alias("_n"),
    )
    recent = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
        .select("o_custkey")
    )
    return (
        cust.crossJoin(F.broadcast(thresh))
        .filter(F.col("_bal") * F.col("_n") > F.col("_total"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy(F.col("c_nationkey").cast("bigint").alias("c_nationkey"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum("_bal").cast("double").alias("totacctbal"),
        )
    )


def qx22_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (round-8 directive): MULTI-LEVEL CORRELATED
    SCALAR MIN — for each part in a type/size cut, the cheapest offer
    from any EUROPE supplier, where the "offer book" itself is a
    supplier⋈nation⋈region join tree; decorrelated as
    aggregate-then-rejoin on (partkey, min_price).  The testdata has
    no partsupp table, so the offer book is lineitem's observed
    (part, supplier, price) triples — identical decorrelation shape,
    the correlated subtree is 4 tables deep either way.

    100 TB plan shape (pinned in tests/test_plans.py):
    - the part cut and the region-cut supplier KEYSET are broadcast
      LEFT SEMIs onto lineitem BEFORE any shuffle (qx17/qx19
      precedent: brand/region cuts are the broadcastable dims);
    - the textbook decorrelation (MIN agg by partkey, rejoined to the
      offers frame on (partkey, price)) plans the WHOLE offers subtree
      twice — two lineitem scans, two semi probes, and an extra
      two-key SMJ, because the agg's (l_partkey) exchange can't be
      reused by the (l_partkey, _price) rejoin (measured on this
      plan's first draft).  A MIN-WINDOW over the partkey partitioning
      is the same correlated scalar with ONE scan and ONE shuffle:
      Exchange(l_partkey) → Window(min) → Filter(price = min);
    - the price-equality filter compares DECIMAL(18,2), never raw
      doubles (float equality across engines is a parity trap);
    - a (partkey, suppkey) pair can hit the min price on several
      lineitems — the keyed distinct collapses them WITHOUT a second
      exchange (hashpartitioning(l_partkey) already clusters the
      (partkey, suppkey, price) distinct keys);
    - supplier/nation/part payloads probe by broadcast AFTER the cut;
      top-100 via TakeOrdered on (acctbal desc, name, partkey).
    """
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    nation = (
        _t(spark, sf_dir, "nation")
        .join(F.broadcast(region),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .select("n_nationkey", "n_name")
    )
    supp = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(nation),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    parts = (
        _t(spark, sf_dir, "part")
        .filter((F.col("p_type") == "STANDARD")
                & F.col("p_size").between(10, 20))
        .select("p_partkey", "p_name")
    )
    offers = (
        _t(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey",
                money("l_extendedprice").alias("_price"))
        .join(F.broadcast(parts.select("p_partkey")),
              F.col("l_partkey") == F.col("p_partkey"), "left_semi")
        .join(F.broadcast(supp.select("s_suppkey")),
              F.col("l_suppkey") == F.col("s_suppkey"), "left_semi")
    )
    w = Window.partitionBy("l_partkey")
    winners = (
        offers.withColumn("_minp", F.min("_price").over(w))
        .filter(F.col("_price") == F.col("_minp"))
        .select("l_partkey", "l_suppkey", "_minp")
        .distinct()
    )
    return (
        winners
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(parts), F.col("l_partkey") == F.col("p_partkey"))
        .select(
            "s_acctbal", "s_name", "n_name",
            F.col("p_partkey").cast("bigint").alias("p_partkey"),
            "p_name",
            F.col("_minp").cast("double").alias("min_price"),
        )
        .orderBy(F.desc("s_acctbal"), F.asc("s_name"), F.asc("p_partkey"))
        .limit(100)
    )


def qx23_disjunctive_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (round-8 directive): DISJUNCTIVE OR-of-ANDs
    join predicate — three (brand, size-range, quantity-range)
    branches across lineitem⋈part, each conjunct mixing columns from
    BOTH sides.  The engine-quality test: the per-side projections of
    the disjunction must still prune BOTH scans, and the join must
    stay ONE equi-join carrying the residual OR — never a cartesian
    or a fat post-join filter over an unfiltered join.

    100 TB plan shape (pinned in tests/test_plans.py):
    - the part-only projection of the OR — (brand12∧size1-10) ∨
      (brand23∧size1-20) ∨ (brand4∧size1-30) — is stated as an
      explicit part-scan filter, so it reaches PushedFilters even
      where CNF extraction would give up;
    - likewise the lineitem-only projection (returnflag='N' common
      conjunct AND the qty-range union) cuts the fact scan;
    - the full OR rides the broadcast hash join as its residual
      condition (Catalyst keys on l_partkey = p_partkey and keeps the
      disjunction as non-equi residual — one join node);
    - revenue in DECIMAL before the one-row double boundary.
    """
    b1_p = (F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 10)
    b2_p = (F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 20)
    b3_p = (F.col("p_brand") == "Brand#4") & F.col("p_size").between(1, 30)
    b1_l = F.col("l_quantity").between(1.0, 11.0)
    b2_l = F.col("l_quantity").between(10.0, 20.0)
    b3_l = F.col("l_quantity").between(20.0, 30.0)

    part = (
        _t(spark, sf_dir, "part")
        .filter(b1_p | b2_p | b3_p)
        .select("p_partkey", "p_brand", "p_size")
    )
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter((F.col("l_returnflag") == "N") & (b1_l | b2_l | b3_l))
        .select("l_partkey", "l_quantity",
                "l_extendedprice", "l_discount")
    )
    cond = (
        (F.col("l_partkey") == F.col("p_partkey"))
        & ((b1_p & b1_l) | (b2_p & b2_l) | (b3_p & b3_l))
    )
    return (
        li.join(F.broadcast(part), cond)
        .agg(F.sum(disc_price()).cast("double").alias("revenue"))
    )


def qx24_concentrated_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (round-8 directive): NESTED SEMI CHAIN gated by
    a per-(part,supp) AGGREGATE THRESHOLD — suppliers in the EUROPE
    region having some name-cut part whose 1997 shipped quantity
    exceeds HALF the pair's all-time quantity (the testdata has no
    partsupp.availqty, so the Q20 "availqty > ½·shipped" gate becomes
    a two-conditional-sum concentration gate over the same
    (partkey, suppkey) grain — the nesting depth is identical:
    supplier ⟕semi (pairs ⟕semi part-cut) with the pairs themselves
    born from an aggregate HAVING).

    100 TB plan shape (pinned in tests/test_plans.py):
    - ONE lineitem pass computes both conditional sums (partial agg
      map-side; never two scans joined);
    - the threshold compares exact BIGINTs (quantities are integral
      doubles; 2·q97 > qtot — no division, no float boundary);
    - the part name-cut is a broadcast LEFT SEMI on the aggregated
      pairs (qx17 precedent), NOT on raw lineitem — it only has to
      cut pair-grain rows;
    - supplier ⟕semi surviving-pairs is a SHUFFLE semi on suppkey
      (both sides data-sized at 100 TB); nation/region probe by
      broadcast; output ordered by name.
    """
    pairs = (
        _t(spark, sf_dir, "lineitem")
        .select(
            "l_partkey", "l_suppkey",
            F.col("l_quantity").alias("_q"),
            (F.year("l_shipdate") == 1997).alias("_in97"),
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            F.sum(F.when(F.col("_in97"), F.col("_q")).otherwise(F.lit(0.0)))
            .cast("bigint").alias("_q97"),
            F.sum("_q").cast("bigint").alias("_qtot"),
        )
        .filter((F.col("_q97") > F.lit(0))
                & (F.lit(2) * F.col("_q97") > F.col("_qtot")))
    )
    red_parts = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%red%"))
        .select("p_partkey")
    )
    pairs_cut = pairs.join(
        F.broadcast(red_parts),
        F.col("l_partkey") == F.col("p_partkey"), "left_semi",
    )
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    nation = (
        _t(spark, sf_dir, "nation")
        .join(F.broadcast(region),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .select("n_nationkey")
    )
    return (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(nation),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .join(pairs_cut.select("l_suppkey"),
              F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_name", "s_acctbal")
        .orderBy("s_name")
    )


def qx25_profit_tree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (round-8 directive): LIKE-cut PROFIT TREE —
    per-(nation, year) profit over the part⋈lineitem⋈supplier⋈orders⋈
    nation tree, part cut by an infix name pattern (no index/partition
    key can serve a '%red%' cut: it MUST survive as a scan-level
    StringContains push).  Profit = discounted revenue minus a
    retail-cost proxy (the testdata has no partsupp.supplycost;
    p_retailprice·quantity keeps the cost term coming from a DIFFERENT
    table than the revenue term, which is what makes Q9's tree deep).

    100 TB plan shape (pinned in tests/test_plans.py):
    - the '%red%' cut broadcasts (with payload — retailprice feeds the
      amount arithmetic) onto lineitem BEFORE the orderkey shuffle, so
      the fact spine shuffles ~1/8 of lineitem;
    - lineitem⋈orders is the ONE SortMergeJoin (orders carries only
      o_orderkey, o_orderdate); supplier/nation probe by broadcast;
    - amount arithmetic is pure DECIMAL: (18,2)·(18,2) products at
      scale 4, subtraction at (38,4), exact-associative partial sums
      map-side; the double boundary is the final output cast;
    - GROUP BY (n_name, year) is the only other shuffle, over
      agg-grain rows.
    """
    parts = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%red%"))
        .select("p_partkey", money("p_retailprice").alias("_retail"))
    )
    supp = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(_t(spark, sf_dir, "nation")),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "n_name")
    )
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").cast("bigint").alias("o_year")
    )
    amount = disc_price() - (
        F.col("_retail") * F.col("l_quantity").cast("decimal(18,2)")
    )
    return (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey", "l_suppkey",
                "l_quantity", "l_extendedprice", "l_discount")
        .join(F.broadcast(parts), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("n_name", "o_year")
        .agg(F.sum(amount).cast("double").alias("profit"))
        .orderBy(F.asc("n_name"), F.desc("o_year"))
    )


def qx26_curate_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation pipeline END-TO-END *including near-dup dedup*,
    bit-for-bit SQL-replayable (round-9): qx06 gates the composition
    with near-dup off because MinHash banding has no exact oracle —
    but the EXACT set-similarity join (qx02) does, so
    ``near_dup_method='setsim'`` closes the last unreplayable stage:
    boilerplate strip → quality gate → exact dedup → exact-Jaccard
    pairs at 0.5 → connected components → keep-best survivor, and the
    oracle rebuilds every stage (quadratic Jaccard + recursive-CTE
    reachability + the same longest-then-min-id argmax) on the same
    bytes.  The digest hashes the curated text, so a single wrong byte
    anywhere in the five-stage composition fails the driver hash.

    100 TB shape: identical to curate()'s (each stage documented at
    its operator — q85/q21/q25/qx02/q15/q33); the quadratic join lives
    only in the ORACLE."""
    from ros_sql_spark.pipeline import curate

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    res = curate(
        docs,
        boilerplate_max_df=2,
        near_dup_threshold=0.5,
        near_dup_method="setsim",
        shingle_k=5,
    )
    return res.docs.select(
        "doc_id", F.md5(F.col("text").cast("binary")).alias("digest")
    )


def qx27_editdist_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT edit-distance similarity join (round-9): all part-name
    pairs within Levenshtein 2 inside one brand — the string-metric
    sibling of the token-set joins (qx02 Jaccard, q32 n-gram).  The
    engine side is the BLOCKED join
    (operators/dedup.py::edit_distance_pairs — q-gram blocks with the
    classic count-bound completeness guarantee + a length-band block
    for strings under the bound, thresholded-levenshtein verify, never
    an unblocked self-join); the oracle recomputes the cut
    quadratically with the same length prefilter — distances are exact
    integers in both engines, value-exact by construction.

    100 TB shape: gram explode linear; candidates Σ(block²) with AQE
    splitting hot grams; verify = banded DP O(d·len) on candidates
    only (plan-guarded: no CartesianProduct)."""
    from ros_sql_spark.operators.dedup import edit_distance_pairs

    parts = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#11")
        .select(
            F.col("p_partkey").alias("doc_id"),
            F.col("p_name").alias("text"),
        )
    )
    return edit_distance_pairs(parts, max_dist=2, q=2)


_BM25_TERMS = ("vector", "stream", "query")


def qx28_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval scoring (round-10): top-15 documents for a fixed
    keyword query under Lucene's BM25 (k1=1.2, b=0.75,
    idf = ln((N−df+0.5)/(df+0.5)+1)) — the ranking-function gap in the
    text battery (q36 is TF-IDF keyword EXTRACTION; this is QUERY-time
    scoring).  Exact integer tf/df/dl counts feed the identical double
    expression on both engines (q93 float-parity discipline); ranking
    and the top-k cut happen on the ROUNDED score with doc_id tiebreak
    so the boundary is deterministic across engines.

    100 TB shape: the token array is filtered to the 3 query terms
    BEFORE the explode (per-row fan-out = matches only, never |tokens|;
    explode_outer dodges the Generate-invariant re-evaluation), tf
    lands on the doc_id partitioning, df is a 3-row broadcast, and the
    corpus scalars ride the 1-row-aggregate crossJoin (qx08's idiom).
    The global top-k is TakeOrderedAndProject — never a single-
    partition sort."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.split(F.lower("text"), " ").alias("_toks"),
    ).select(
        "doc_id",
        F.size("_toks").cast("bigint").alias("dl"),
        F.explode_outer(
            F.filter(
                "_toks",
                lambda x: (x == _BM25_TERMS[0])
                | (x == _BM25_TERMS[1])
                | (x == _BM25_TERMS[2]),
            )
        ).alias("term"),
    ).filter(F.col("term").isNotNull())
    tf = toks.groupBy("doc_id", "dl", "term").agg(
        F.count("*").alias("c")
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    stats = docs.agg(
        F.count("*").cast("double").alias("n_docs"),
        (
            F.sum(F.size(F.split(F.lower("text"), " ")).cast("bigint"))
            .cast("double")
            / F.count("*").cast("double")
        ).alias("avgdl"),
    )
    k1, b = 1.2, 0.75
    idf = F.log(
        (F.col("n_docs") - F.col("df").cast("double") + F.lit(0.5))
        / (F.col("df").cast("double") + F.lit(0.5))
        + F.lit(1.0)
    )
    tf_d = F.col("c").cast("double")
    norm = tf_d + F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("dl").cast("double") / F.col("avgdl")
    )
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(r6(F.sum(idf * tf_d / norm)).alias("score"))
    )
    return scored.orderBy(F.desc("score"), "doc_id").limit(15)


def qx29_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank (round-10) over the bipartite
    customer↔supplier trade graph: nodes are customers (key·2) and
    suppliers (key·2+1), one edge per DISTINCT trading pair in each
    direction (so every node has an out-edge — no dangling mass), 3
    damped (0.85) power iterations, top-20 by N-normalized score.  The
    iterative-algorithm entry the suite lacked beyond components: the
    oracle replays the identical recursion as 3 unrolled SQL CTE
    levels, value-exact at round(·,6) with the rounded-score+node
    tiebreak cut (qx28's deterministic-boundary discipline).

    100 TB shape: operators/graph.py::pagerank — the edge list and
    degree table are lazily checkpoint-pinned (consumed by the node-
    count action plus 2·n_iter join instances; measured 2.5× over the
    fully-unrolled plan, see the module docstring), each iteration is
    a src-keyed join + dst-keyed agg, and the both-directions union of
    the distinct pair table skips the operator's defensive re-dedup
    (assume_distinct).  Scores stay |V|-sized; the pair distinct is
    the only corpus-sized shuffle."""
    from ros_sql_spark.operators.graph import pagerank

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pair = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s")
        )
        .dropDuplicates(["c", "s"])
    )
    cnode = (F.col("c") * 2).alias("src")
    snode = (F.col("s") * 2 + 1).alias("dst")
    edges = pair.select(cnode, snode).unionByName(
        pair.select(
            (F.col("s") * 2 + 1).alias("src"), (F.col("c") * 2).alias("dst")
        )
    )
    # both-directions union of a distinct pair table is distinct by
    # construction — skip the operator's defensive re-dedup shuffle
    pr = pagerank(edges, n_iter=3, damping=0.85, assume_distinct=True)
    n = pr.agg(F.count("*").cast("double").alias("n_nodes"))
    out = pr.crossJoin(F.broadcast(n)).select(
        "node", r6(F.col("p") * F.col("n_nodes")).alias("pr_n")
    )
    return out.orderBy(F.desc("pr_n"), "node").limit(20)


def qx30_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-interpolation gap fill (round-10): q91's dense per-user
    day axis, but interior missing days take the straight line between
    the surrounding observations instead of carrying the last value
    forward — the resampling mode numeric feature pipelines want for
    continuous signals.  Two windows per user (backward last-observed
    day/value, forward first-observed day/value, both ignorenulls over
    the SAME user partitioning the axis join just produced — one
    exchange total); endpoints are observed by construction so every
    gap has both anchors.  Money through DECIMAL first, the lerp in
    doubles from exact integer day distances, round(·,6) both
    engines."""
    ev = _t(spark, sf_dir, "events")
    day = F.expr("ts_ns div 86400000000000")
    daily = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.col("user_id"), day.alias("d"))
        .agg(F.sum(money(F.col("value"))).alias("_v"))
    )
    span = daily.groupBy("user_id").agg(
        F.min("d").alias("_d0"), F.max("d").alias("_d1")
    )
    axis = span.select(
        "user_id", F.explode_outer(F.sequence("_d0", "_d1")).alias("d")
    )
    j = axis.join(daily, ["user_id", "d"], "left")
    ob = F.col("_v").isNotNull()
    vd = F.col("_v").cast("double")
    wb = (
        Window.partitionBy("user_id")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy("d")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    pd_ = F.last(F.when(ob, F.col("d")), ignorenulls=True).over(wb)
    pv = F.last(F.when(ob, vd), ignorenulls=True).over(wb)
    nd = F.first(F.when(ob, F.col("d")), ignorenulls=True).over(wf)
    nv = F.first(F.when(ob, vd), ignorenulls=True).over(wf)
    frac = (F.col("d") - pd_).cast("double") / (nd - pd_).cast("double")
    return j.select(
        "user_id",
        "d",
        ob.alias("observed"),
        r6(F.when(ob, vd).otherwise(pv + (nv - pv) * frac)).alias("v_lerp"),
    )


def qx31_pmi_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information of the lang × source contingency
    table (round-10): per observed cell,
    pmi = ln(c_ls·N / (c_l·c_s)) — the corpus-composition association
    stat (which sources over/under-produce which languages) that
    mixture planning reads before setting sampling weights.  Exact
    BIGINT counts feed one identical double expression (q93
    discipline); the marginals are tiny broadcast joins onto the cell
    partitioning and N rides the 1-row crossJoin."""
    docs = _t(spark, sf_dir, "documents")
    cells = docs.groupBy("lang", "source").agg(
        F.count("*").cast("bigint").alias("n")
    )
    ml = docs.groupBy("lang").agg(F.count("*").alias("_cl"))
    ms = docs.groupBy("source").agg(F.count("*").alias("_cs"))
    n_tot = docs.agg(F.count("*").cast("double").alias("_n"))
    pmi = F.log(
        F.col("n").cast("double")
        * F.col("_n")
        / (F.col("_cl").cast("double") * F.col("_cs").cast("double"))
    )
    return (
        cells.join(F.broadcast(ml), "lang")
        .join(F.broadcast(ms), "source")
        .crossJoin(F.broadcast(n_tot))
        .select("lang", "source", "n", r6(pmi).alias("pmi"))
    )


def qx32_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (type-2) interval reconstruction
    (round-10): collapse each user's event stream into contiguous
    same-state runs with [valid_from_us, valid_to_us) validity — the
    temporal-table view a warehouse derives from a change log (the
    snapshot layer versions TABLES; this is row-level state history).
    Run boundaries from one lag() change flag, run ids from the
    running sum of flags, the closing edge from lead() on the run
    grain — three window passes and one aggregate, ALL on the user_id
    partitioning: a single exchange end to end.  Ordering ties break
    on event_id (same-µs collision rule); open intervals carry NULL
    valid_to_us."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(tus("ts_ns"), "event_id")
    chg = (
        F.lag("event_type").over(w).isNull()
        | (F.col("event_type") != F.lag("event_type").over(w))
    ).cast("bigint")
    runs = ev.select(
        "user_id",
        "event_type",
        tus("ts_ns").alias("_us"),
        F.sum(chg).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("_run"),
    )
    iv = runs.groupBy("user_id", "_run", "event_type").agg(
        F.min("_us").alias("valid_from_us"),
        F.count("*").cast("bigint").alias("n_events"),
    )
    w2 = Window.partitionBy("user_id").orderBy("_run")
    return iv.select(
        "user_id",
        F.col("event_type").alias("state"),
        "valid_from_us",
        F.lead("valid_from_us").over(w2).alias("valid_to_us"),
        "n_events",
    )


def qx33_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting (round-10) on the document near-dup graph —
    the clique-density signal that distinguishes tight dup FAMILIES
    from chains (families triangulate, chains don't), and the second
    graph-analytics entry beside qx29.  Edges are q32's n-gram Jaccard
    pairs at the qx10 threshold; the count uses
    operators/graph.py::triangle_count — degree-ordered orientation so
    every wedge is enumerated once at its lowest-degree apex
    (intermediate Σ d_out² with d_out ≤ √(2E): survives power-law hubs
    at 100 TB where id-ordering explodes on the hub), closing-edge
    check as one semi join.  The oracle counts the identical triangle
    set by id-ordered 3-way self-join — orientation changes the plan,
    never the count."""
    from ros_sql_spark.operators.graph import triangle_count

    pairs = q32_ngram_jaccard(spark, sf_dir).filter(
        F.col("jaccard") >= 0.001
    )
    return triangle_count(pairs, a_col="doc_a", b_col="doc_b")


def qx34_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of the event-type sequence
    (round-10): per user, (state → next state) pairs from one lead()
    over the µs+event_id order, aggregated corpus-wide to counts and
    row-normalized probabilities — the sequence-statistics sibling of
    qx31's PMI (co-occurrence) and q94's pattern match (recognition).
    One user-keyed exchange for the window, then a tiny (|states|²)
    aggregate; the normalizing row total is a WINDOW over that
    |states|²-row frame — a broadcast self-join here re-derived the
    whole scan+window pipeline for the build side (caught by the plan
    guard on the first draft).  Exact BIGINT counts feed the one
    double division, round(·,6)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(tus("ts_ns"), "event_id")
    pairs = ev.select(
        F.col("event_type").alias("from_state"),
        F.lead("event_type").over(w).alias("to_state"),
    ).filter(F.col("to_state").isNotNull())
    n = pairs.groupBy("from_state", "to_state").agg(
        F.count("*").cast("bigint").alias("n")
    )
    w_tot = Window.partitionBy("from_state")
    return n.select(
        "from_state",
        "to_state",
        "n",
        r6(
            F.col("n").cast("double")
            / F.sum("n").over(w_tot).cast("double")
        ).alias("p"),
    )


def qx35_rolling_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window OLS trend slope (round-10): per user, the
    least-squares slope of daily purchase totals over the user's last
    7 OBSERVED days — the feature-engineering regression primitive
    (trend signals for curricula/anomaly gates) the suite lacked.
    Parity design: money lands as exact INTEGER CENTS and x is the
    integer day index, so every windowed moment (n, Σx, Σy, Σxy, Σx²)
    is exact integer arithmetic in both engines — the slope is ONE
    double division of two exactly-agreed integers (the q88/q93
    discipline applied to regression).  Slope NULL for 1-day windows
    (zero denominator is impossible otherwise: distinct days make
    n·Σx² − (Σx)² > 0).  ONE user exchange end to end: the explicit
    user_id repartition satisfies the (user_id, d) aggregate's
    clustering requirement (a subset partitioning clusters the
    superset) AND the window's, so neither plans its own shuffle."""
    ev = _t(spark, sf_dir, "events")
    day = F.expr("ts_ns div 86400000000000")
    daily = (
        ev.filter(F.col("event_type") == "purchase")
        .repartition("user_id")
        .groupBy(F.col("user_id"), day.alias("d"))
        .agg(
            (F.sum(money(F.col("value"))) * 100)
            .cast("bigint")
            .alias("_y")
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("d")
        .rowsBetween(-6, 0)
    )
    m = daily.select(
        "user_id",
        "d",
        F.count("*").over(w).cast("bigint").alias("n_window"),
        F.sum("d").over(w).cast("bigint").alias("_sx"),
        F.sum("_y").over(w).cast("bigint").alias("_sy"),
        F.sum(F.col("d") * F.col("_y")).over(w).cast("bigint").alias("_sxy"),
        F.sum(F.col("d") * F.col("d")).over(w).cast("bigint").alias("_sxx"),
    )
    num = F.col("n_window") * F.col("_sxy") - F.col("_sx") * F.col("_sy")
    den = F.col("n_window") * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    return m.select(
        "user_id",
        "d",
        "n_window",
        r6(
            F.when(
                F.col("n_window") > 1,
                num.cast("double") / den.cast("double"),
            )
        ).alias("slope_cents_per_day"),
    )


def qx36_revenue_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Period-over-period reporting (round-10): monthly order revenue
    with month-over-month growth — the lag-on-aggregate analytic shape
    (the window rides the POST-AGGREGATE frame).  The unpartitioned
    window is deliberate and scale-safe: months are O(calendar), not
    O(data) — the frame the single task sorts is ~80 rows at ANY
    corpus size (the q14 rule forbids unpartitioned windows over
    DATA-sized frames, not calendar-sized ones).  Revenue through
    DECIMAL, the growth ratio as one double division of the exact
    decimals, round(·,6)."""
    orders = _t(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.date_trunc("month", "o_orderdate").cast("date").alias("m")
    ).agg(F.sum(money(F.col("o_totalprice"))).alias("_rev"))
    w = Window.orderBy("m")
    prev = F.lag("_rev").over(w)
    return monthly.select(
        "m",
        F.col("_rev").cast("double").alias("revenue"),
        r6(
            F.col("_rev").cast("double") / prev.cast("double") - F.lit(1.0)
        ).alias("growth"),
    )


def qx37_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion latency (round-10): per user, µs from FIRST view to
    FIRST purchase, converted users only (first purchase at or after
    first view) — the funnel LATENCY metric beside q34's stage-reached
    counts.  One conditional-min aggregation on the user partitioning
    (no window, no join): both firsts come from the same pass, exact
    integer µs."""
    ev = _t(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", tus("ts_ns"))).alias(
            "_v"
        ),
        F.min(
            F.when(F.col("event_type") == "purchase", tus("ts_ns"))
        ).alias("_p"),
    )
    return (
        firsts.filter(
            F.col("_v").isNotNull()
            & F.col("_p").isNotNull()
            & (F.col("_p") >= F.col("_v"))
        )
        .select(
            "user_id",
            (F.col("_p") - F.col("_v")).cast("bigint").alias("delta_us"),
        )
    )


def qx38_group_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-GROUP weighted sampling (round-10): top-3 docs per language
    under the Efraimidis–Spirakis priority (u^(1/w), u the
    deterministic md5 uniform, w = n_chars) — q82's global TakeOrdered
    becomes one rank window per group, the per-stratum form quota/eval
    sampling needs.  Priorities ROUNDED before ranking with doc_id
    tiebreak (the qx28 deterministic-boundary discipline); one
    lang-keyed exchange, no global stage."""
    from ros_sql_spark.operators.sampling import uniform_from_id

    docs = _t(spark, sf_dir, "documents")
    u = uniform_from_id("doc_id")
    pri = F.round(
        F.pow(u, F.lit(1.0) / F.col("n_chars").cast("double")), 9
    )
    w = Window.partitionBy("lang").orderBy(
        F.desc("_pri"), F.col("doc_id")
    )
    return (
        docs.filter(F.col("n_chars") > 0)
        .select("lang", "doc_id", pri.alias("_pri"))
        .withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= 3)
        .select("lang", "doc_id", "rk", F.col("_pri").alias("priority"))
    )


def qx39_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model scoring (round-10): per-doc mean
    −ln p(wᵢ | wᵢ₋₁) under the corpus's own add-one-smoothed bigram
    MLE — the CONTEXT-aware upgrade of qx08's unigram filter (templated
    docs score low because their transitions are corpus-frequent).
    p(b|a) = (c_ab + 1) / (c_a + V) from exact integer counts (c_ab
    bigram count, c_a unigram-as-history count, V vocabulary size);
    only ln/divide in doubles (q93 discipline).  Plan: ONE token
    explode feeds both the per-doc bigram tf (lead over the doc
    partitioning) and the corpus tables; the corpus bigram table joins
    on its own (a,b) grain, the history table on its unigram grain
    (vocabulary-sized — LEFT to the size-based planner, never forced
    broadcast: at 100 TB a vocabulary can outgrow a broadcast), and
    only the 1-row V scalar rides the crossJoin broadcast."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.posexplode_outer(F.split(F.lower("text"), " ")).alias(
            "pos", "term"
        ),
    ).filter(F.col("term").isNotNull())
    w = Window.partitionBy("doc_id").orderBy("pos")
    big = (
        toks.select(
            "doc_id",
            F.col("term").alias("a"),
            F.lead("term").over(w).alias("b"),
        )
        .filter(F.col("b").isNotNull())
    )
    dtf = big.groupBy("doc_id", "a", "b").agg(F.count("*").alias("c"))
    cab = dtf.groupBy("a", "b").agg(F.sum("c").alias("cab"))
    ca = cab.groupBy("a").agg(F.sum("cab").alias("ca"))
    vocab = toks.agg(
        F.countDistinct("term").cast("double").alias("v")
    )
    p = (F.col("cab").cast("double") + F.lit(1.0)) / (
        F.col("ca").cast("double") + F.col("v")
    )
    return (
        dtf.join(cab, ["a", "b"])
        .join(ca, "a")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("bigint").alias("n_bigrams"),
            r6(
                -F.sum(F.col("c").cast("double") * F.log(p))
                / F.sum("c").cast("double")
            ).alias("nll"),
        )
    )


def qx40_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-absolute-deviation outliers (round-10): per source, docs
    whose |n_chars − median| exceeds 3 MADs — the fully ROBUST member
    of the outlier family (q88's z-score uses moments a single extreme
    value corrupts; qx04 winsorizes; MAD's breakdown point is 50%).
    Two rank-based exact medians (operators/percentile.py — bounded
    task memory, never a value-buffering aggregate) broadcast back
    onto the doc grain; the 3-MAD cut happens on the ROUNDED ratio
    (qx28's deterministic-boundary discipline — the raw doubles can
    differ in the last ulp between engines' interpolations)."""
    from ros_sql_spark.operators.percentile import exact_percentiles

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", F.col("n_chars").cast("double").alias("x")
    )
    med = exact_percentiles(docs, ["source"], "x", {"med": 0.5})
    dev = docs.join(F.broadcast(med), "source").select(
        "doc_id",
        "source",
        "x",
        F.abs(F.col("x") - F.col("med")).alias("d"),
    )
    mad = exact_percentiles(dev, ["source"], "d", {"mad": 0.5})
    ratio = r6(F.col("d") / F.col("mad"))
    return (
        dev.join(F.broadcast(mad), "source")
        .filter(F.col("mad") > 0)
        .select(
            "source",
            "doc_id",
            F.col("x").cast("bigint").alias("n_chars"),
            ratio.alias("dev_ratio"),
        )
        .filter(F.col("dev_ratio") > 3.0)
    )


def qx41_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Misra–Gries heavy hitters (operators/sketch.py::topk_sketch) —
    the fourth mergeable sketch (cardinality = qx00 KMV, frequency
    point estimate = qx03 Count-Min, quantiles = qx05, top-k frequent
    items = this): per event type, the ≤ k users whose activity count
    survives the deterministic (count DESC, md5 ASC) compress, with
    the c_low/err bounds (true count ∈ [c_low, c_low+err], every user
    above err guaranteed present, err ≤ N/(k+1)).

    100 TB story: O(groups·(k+1)) state however many users ever flow
    ("top domains per shard under fixed memory" — the primitive real
    pipelines reach for first); the heavy shuffle is the partial-agged
    exact count on the FINE (type, user) grain, skew-immune, and the
    window moves only counters already cut to k+1 per group per map
    task by WindowGroupLimit.  Summaries MERGE (streaming twin
    streaming/sketch.py::topk_sketch_stream, ε-guarantee across any
    merge tree asserted in tests).  Deterministic integer arithmetic →
    the DuckDB oracle rebuilds the summary bit-for-bit (the CLAUDE.md
    sketch-parity trick).  The NULL-key sentinel rows are merge state,
    not answers — filtered here."""
    from ros_sql_spark.operators.sketch import topk_sketch

    ev = _t(spark, sf_dir, "events")
    sk = topk_sketch(ev, "event_type", "user_id", k=8)
    return sk.filter(F.col("user_id").isNotNull()).select(
        "event_type", "user_id", "c_low", "err"
    )


def qx42_rank_over_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q67-class shape (round-10 directive: the analytic idioms
    TPC-H never exercises): a window function whose INPUT is a rollup
    aggregate — revenue by ROLLUP(nation, year, month), then the top-5
    rows per nation partition ACROSS rollup levels (a month, a year
    subtotal and the nation total compete in one ranking; the grand-
    total row ranks alone in its NULL partition).  The grouping-ID
    columns disambiguate subtotal NULLs (q53's convention) and serve
    as the deterministic tiebreak below revenue.

    Plan shape: one fact-fact shuffle (lineitem⋈orders), customer and
    nation ride broadcasts, and — the decisive rollup optimization at
    100 TB — the facts aggregate to the FINE (nation, year, month)
    grain FIRST, then the rollup's Expand multiplies only the
    |nations·periods|-sized aggregate ×4 (decimal sums re-aggregate
    exactly, so the two-level form is value-identical; Expand directly
    on the facts would 4× the fact rows before their exchange —
    measured 1.91 → 1.62 s solo min-of-5 at sf0.1, a ~15% win that
    grows with the fact:aggregate ratio at 100 TB).  The rank window
    then runs
    over the rollup output, cut to 5 rows per group per map task by
    partial WindowGroupLimit.  Ranking compares the EXACT decimal
    revenue (casting to double first could flip a rank on an ulp; the
    double cast happens at the output boundary only)."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    base = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .select(
            "n_name",
            F.year("o_orderdate").cast("bigint").alias("o_year"),
            F.month("o_orderdate").cast("bigint").alias("o_month"),
            disc_price().alias("_dp"),
        )
    )
    fine = base.groupBy("n_name", "o_year", "o_month").agg(
        F.sum("_dp").alias("_s")
    )
    roll = fine.rollup("n_name", "o_year", "o_month").agg(
        F.sum("_s").alias("_rev"),
        F.grouping("n_name").cast("bigint").alias("g_nation"),
        F.grouping("o_year").cast("bigint").alias("g_year"),
        F.grouping("o_month").cast("bigint").alias("g_month"),
    )
    w = Window.partitionBy("n_name").orderBy(
        F.desc("_rev"),
        F.asc("g_year"),
        F.asc("g_month"),
        F.asc_nulls_first("o_year"),
        F.asc_nulls_first("o_month"),
    )
    return (
        roll.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= 5)
        .select(
            "n_name", "o_year", "o_month",
            "g_nation", "g_year", "g_month",
            F.col("_rev").cast("double").alias("revenue"),
            "rnk",
        )
    )


def qx43_channel_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q14/Q38-class shape: multi-channel INTERSECT of DISTINCT
    key sets gated by a scalar-average subquery — users active in ALL
    THREE event channels (click ∩ view ∩ purchase as set intersection,
    not a 3-way join of multiplicities) whose purchase total beats the
    all-users average.

    Deterministic-boundary discipline (CLAUDE.md): the average gate is
    evaluated as tot·n > Σtot in EXACT decimal/integer arithmetic —
    comparing against a float average would put every boundary user
    one addition-reorder away from flipping.  Plan shape: the
    INTERSECTs compile to left-semi joins over distinct key sets (no
    payload widening); the Σ/n gate is a 1-ROW scalar aggregate
    crossJoin-broadcast onto the per-user frame (qx21 idiom).  Two
    rejected alternatives, both measured: (a) broadcast(self-agg of
    the live per_user plan) re-plans the whole purchase scan+aggregate
    for the build side (CLAUDE.md's qx34 rule — the semi below only
    the probe side makes the subtrees non-canonical, exchange reuse
    never fires); (b) the round-11 shipping version used an
    unpartitioned window over per_user, which is a SinglePartition
    SORT of a |purchase-users|-sized frame — fine at sf0.1, one task
    sorting 10⁸–10⁹ rows at 100 TB (round-11 verdict's one `weak`).
    The fix is the qx44 pin: per_user is eagerly localCheckpoint-ed
    (tiny: one row per purchasing user, already aggregated), the
    scalar (Σ, n) aggregate reads the PINNED frame so the purchase
    pipeline still runs exactly once, and the gate rides a 1-row
    BroadcastNestedLoopJoin — the only remaining SinglePartition
    exchange is the scalar aggregate's own constant-rows-per-partition
    combine, never a data-sized sort.  Gate population is all purchase
    users (computed from the pinned frame BEFORE the semi join), same
    as the window version.  Measured sf0.1 local[32] min-of-3 solo,
    back-to-back same host: window 0.83 s, pinned+broadcast 0.89 s —
    the eager pin costs ~7% locally (its materialization is inside
    the timed region), which is the price of deleting the one shape
    that cannot survive 100×; CLAUDE.md's bench-noise band swallows
    the difference in-suite."""
    ev = _t(spark, sf_dir, "events")

    def channel(t: str) -> DataFrame:
        return (
            ev.filter(F.col("event_type") == t).select("user_id").distinct()
        )

    inter = (
        channel("click").intersect(channel("view")).intersect(
            channel("purchase")
        )
    )
    per_user = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.sum(money("value")).alias("_tot"))
        .localCheckpoint(eager=True)
    )
    gate = per_user.agg(
        F.sum("_tot").alias("_sum_all"),
        F.count(F.lit(1)).cast("bigint").alias("_n_all"),
    )
    return (
        per_user.crossJoin(F.broadcast(gate))
        .join(inter, "user_id", "left_semi")
        .filter(F.col("_tot") * F.col("_n_all") > F.col("_sum_all"))
        .select(
            "user_id", F.col("_tot").cast("double").alias("purchase_total")
        )
    )


def qx44_shared_pipeline_selfjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q64-class shape: ONE wide derived table (per-customer
    per-year purchasing profile over lineitem⋈orders⋈customer⋈nation)
    consumed TWICE inside a single action — the year-over-year
    self-join (profile y ⋈ profile y+1 on custkey) listing customers
    whose revenue more than doubled.

    The decisive plan question (round-10 directive): checkpoint-pin
    the shared profile, or rely on runtime exchange reuse?  Measured
    both ways at sf0.1, local[32], min of 3: eager-localCheckpoint pin
    2.80 s vs unpinned 3.29 s — the PIN wins ~15% here, the opposite
    verdict from setsim_index's within-one-action case, because reuse
    never actually fires: the two self-join sides project DIFFERENT
    column sets out of the shared aggregate before their custkey
    exchanges, so the exchange children aren't canonically equal and
    AQE re-runs the upstream map work per side ("ReusedExchange" is
    absent from the plan — checked, not assumed).  The profile is
    |customers·years|-sized (tiny next to the fact scan), so the pin
    costs one cheap materialization and saves a full second pipeline.
    CLAUDE.md's within-one-action rule holds only when the shared
    subtrees are IDENTICAL up to the exchange; this query is the
    measured counter-case.  The year-adjacency rides IN the join keys
    — (custkey, year_a+1) vs (custkey, year_b) is a composite
    equi-join (each key expression references one side only, so both
    sides hash consistently); the first draft joined on custkey alone
    and filtered adjacency post-join, enumerating |years|² pairs per
    customer and discarding ~6/7 of them (round-11 review).  With the
    pinned profile both join inputs are the tiny ExistingRDD, so the
    per-side exchanges cost nothing.  The doubling gate compares EXACT
    decimals (rev2 > 2·rev1); doubles appear only at the output
    boundary.

    Round-15 (guide §2.4): lineitem is pre-aggregated to ORDER grain
    before the orders join.  The previous mixed sum+countDistinct
    aggregate planned as Spark's single-distinct rewrite — FOUR
    HashAggregates over the (custkey, name, year, orderkey) grain with
    an extra corpus-wide exchange on that 4-part key.  Summing
    disc_price per l_orderkey first (exact decimal sums re-aggregate
    exactly — the rollup-grain rule) makes n_orders a plain count:
    still 2 Exchange/4 HashAggregate, but the corpus-wide exchange key
    narrows from hashpartitioning(custkey, n_name, year, orderkey) —
    the distinct rewrite's 4-part string-bearing grain, hashed per
    lineitem row — to hashpartitioning(l_orderkey) alone, and the
    (custkey, name, year) grain aggregates order-grain rows instead of
    lineitem-grain (plans/r15/qx44_*_{before,after}.txt, profile
    subtree section).  Solo interleaved A/B min-of-5 2.69 → 2.27 s,
    output bit-identical (12,626 rows compared), oracle parity
    green."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    li_o = li.groupBy("l_orderkey").agg(F.sum(disc_price()).alias("_orev"))
    prof = (
        li_o.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey")
        )
        .groupBy(
            "c_custkey",
            "n_name",
            F.year("o_orderdate").cast("bigint").alias("o_year"),
        )
        .agg(
            F.sum("_orev").alias("_rev"),
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        )
        # pinned: both self-join sides consume it with different
        # projections, which defeats exchange reuse (docstring numbers)
        .localCheckpoint(eager=True)
    )
    a = prof.select(
        "c_custkey", "n_name",
        F.col("o_year").alias("year_a"),
        F.col("_rev").alias("_rev_a"),
        F.col("n_orders").alias("orders_a"),
    )
    b = prof.select(
        F.col("c_custkey").alias("_ck"),
        F.col("o_year").alias("year_b"),
        F.col("_rev").alias("_rev_b"),
        F.col("n_orders").alias("orders_b"),
    )
    return (
        a.join(
            b,
            (F.col("c_custkey") == F.col("_ck"))
            & (F.col("year_b") == F.col("year_a") + 1),
        )
        .filter(
            F.col("_rev_b") > F.lit(2).cast(DECIMAL_MONEY) * F.col("_rev_a")
        )
        .select(
            "c_custkey", "n_name", "year_a",
            F.col("_rev_a").cast("double").alias("rev_a"),
            F.col("_rev_b").cast("double").alias("rev_b"),
            "orders_a", "orders_b",
        )
    )


def qx45_ewma_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA smoothing over each user's daily-spend series — the
    exponential member of the time-series family (qx30 interpolates,
    qx35 fits OLS, q91 carries forward; this weights history
    geometrically, the standard smoother for drift/anomaly baselines).

    BIT-EXACT cross-engine float design (stronger than the r6 sum-order
    argument): the window is 16 explicit lag() terms with dyadic
    weights 2⁻ᵏ — daily cents are exact BIGINTs, cents·2⁻ᵏ is an exact
    double (< 2⁵³), every partial sum is an exact multiple of 2⁻¹⁵
    below 2⁴⁴ (≤ 59 significant bits), and the terms fold in one FIXED
    textual order in both engines — so numerator, normalizer (skip-null
    weight sum) and their quotient are IDENTICAL doubles, not
    merely-close ones.  One user_id exchange; all 16 lags ride a single
    Window node over the per-day aggregate (never the raw events)."""
    ev = _t(spark, sf_dir, "events")
    # q91's day idiom: integer div of ns epochs (floor-division
    # composes, so DuckDB's µs-truncated view lands identical days).
    # repartition(user_id) satisfies BOTH the (user, day) groupBy and
    # the lag window — one exchange end-to-end (the qx35 subset trick)
    day = F.expr("ts_ns div 86400000000000")
    daily = (
        ev.repartition("user_id")
        .groupBy("user_id", day.alias("d"))
        .agg(
            F.sum(
                (money("value") * F.lit(100)).cast("bigint")
            ).alias("_cents")
        )
    )
    w = Window.partitionBy("user_id").orderBy("d")
    # materialize each lag ONCE — num and den below both reference it,
    # and inlined window expressions would plan 2×16 _we slots
    lagged = daily.select(
        "user_id", "d", "_cents",
        *[F.lag("_cents", k).over(w).alias(f"_l{k}") for k in range(16)],
    )
    num = None
    den = None
    for k in range(16):
        lk = F.col(f"_l{k}")
        wt = F.lit(float(2.0 ** -k))
        t = F.coalesce(lk.cast("double"), F.lit(0.0)) * wt
        d = F.when(lk.isNotNull(), wt).otherwise(F.lit(0.0))
        num = t if num is None else num + t
        den = d if den is None else den + d
    return lagged.select(
        "user_id",
        "d",
        F.col("_cents").alias("day_cents"),
        r6(num / den / F.lit(100.0)).alias("ewma"),
    )


def qx46_bitmask_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise aggregation (bit_or / bit_and / bit_xor) — the aggregate
    family the suite lacked entirely (zero uses before round 11), and
    the standard flag-rollup idiom at scale: encode each event's type
    as a single-bit mask, OR them per user into a presence set, AND
    them for the only-one-type predicate, XOR the event ids for the
    order-free parity fingerprint replication checks use.  All exact
    integer arithmetic (bitwise ops are associative + commutative, so
    partial aggregation composes and no ordering argument is needed);
    ``bit_count`` decodes the presence-set cardinality.  One
    partial-agged exchange on user_id, no joins."""
    ev = _t(spark, sf_dir, "events")
    mask = (
        F.when(F.col("event_type") == "click", F.lit(1))
        .when(F.col("event_type") == "view", F.lit(2))
        .when(F.col("event_type") == "purchase", F.lit(4))
        .when(F.col("event_type") == "signup", F.lit(8))
        .when(F.col("event_type") == "error", F.lit(16))
        .otherwise(F.lit(32))
        .cast("bigint")
    )
    return ev.groupBy("user_id").agg(
        F.bit_or(mask).alias("type_mask"),
        F.bit_count(F.bit_or(mask)).cast("bigint").alias("n_types"),
        (F.bit_and(mask) != F.lit(0)).alias("single_type"),
        F.bit_xor(F.col("event_id")).alias("id_parity"),
        F.count("*").cast("bigint").alias("n_events"),
    )


def qx47_seq_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (listagg/string_agg) + boolean
    aggregates — two aggregate families with ZERO prior uses in the
    suite (verified by grep before writing, after three draft queries
    this round turned out to duplicate q67/q77/q64): per user, the
    chronological '>'-joined event-type journey string (the sequence-
    mining/debug-rollup idiom), whether ANY purchase occurred
    (bool_or) and whether EVERY event carried a value (bool_and).

    Determinism: the journey orders by the exact (µs, event_id) total
    order — Spark builds it as sort_array(collect_list(struct(...)))
    then transform + array_join (collect_list alone is
    partition-order-nondeterministic; the sort_array makes the result
    a pure function of the SET), which DuckDB replays as
    string_agg(... ORDER BY ...).  Strings and booleans are exact.
    Scale note: per-group state is the user's own event list — bounded
    by the per-user activity, the same contract as q16's sessionizer;
    the aggregation partial-combines map-side."""
    ev = _t(spark, sf_dir, "events")
    us = tus("ts_ns")
    seq = F.array_join(
        F.transform(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        us.alias("u"),
                        F.col("event_id").alias("i"),
                        F.col("event_type").alias("t"),
                    )
                )
            ),
            lambda s: s["t"],
        ),
        ">",
    )
    return ev.groupBy("user_id").agg(
        seq.alias("journey"),
        F.bool_or(F.col("event_type") == "purchase").alias("any_purchase"),
        F.bool_and(F.col("value").isNotNull()).alias("all_valued"),
        F.count("*").cast("bigint").alias("n_events"),
    )


def qx48_bfs_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-depth BFS (min-hops) over the bipartite customer↔
    supplier trade graph (qx29's node encoding) from a nation-seeded
    frontier — the shortest-path/reachability primitive the graph
    family lacked (components answers "connected to WHOM", pagerank
    "how CENTRAL"; this answers "how FAR").

    Spark-first shape: the depth bound is a STATIC 3, so the traversal
    unrolls into three frontier⋈edges joins inside ONE declarative
    plan — no driver loop.  The per-level ``distinct`` is the
    UNION-dedup recursion (not UNION ALL): it keeps every frontier
    |V|-bounded, so a dense bipartite graph costs 3 edge-sized hash
    shuffles instead of enumerating the exponentially-many paths.
    min-hops = one groupBy MIN over the union of hop-labeled levels.
    The edge list is LAZILY checkpoint-pinned (graph.py's pagerank
    precedent): the three hop joins consume edges under non-identical
    frontier siblings, so exchange reuse never fires — measured at
    sf0.1: ReusedExchange count 0 and lineitem scanned 12× unpinned;
    pin 2.14 s vs unpinned 2.61 s solo min-of-2, and at 100 TB the
    unpinned shape re-scans the fact table per hop per union side.
    Oracle: DuckDB ``WITH RECURSIVE … UNION`` (the deduplicating form)
    under the same depth bound — the suite's first recursive-CTE
    oracle, value-exact (pure integers)."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    pair = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s")
        )
        .dropDuplicates(["c", "s"])
    )
    edges = (
        pair.select(
            (F.col("c") * 2).alias("src"), (F.col("s") * 2 + 1).alias("dst")
        )
        .unionByName(
            pair.select(
                (F.col("s") * 2 + 1).alias("src"),
                (F.col("c") * 2).alias("dst"),
            )
        )
        # pinned: 3 hop joins, reuse never fires (docstring numbers).
        # src-repartitioned BEFORE the pin (round-15, the pagerank
        # precedent): the materialized checkpoint carries hash(src)
        # partitioning, so each hop's edge side reads co-partitioned
        # at runtime instead of re-exchanging per hop.
        .repartition("src")
        .localCheckpoint(eager=False)
    )
    seeds = cust.filter(F.col("c_nationkey") == 1).select(
        (F.col("c_custkey") * 2).alias("node")
    )

    def hop(frontier: DataFrame) -> DataFrame:
        # SHUFFLE_HASH on the frontier (round-15, guide §3.1 — the
        # pagerank precedent): sort-merge re-sorted the edge-sized
        # side per hop; hashing the |V|-bounded frontier per partition
        # skips those sorts (A/B 4/5 pairs faster, min 2.65 → 2.48 s;
        # values identical).  Never a broadcast — the frontier is
        # data-sized at scale.
        return (
            edges.join(
                frontier.withColumnRenamed("node", "src").hint(
                    "shuffle_hash"
                ),
                "src",
            )
            .select(F.col("dst").alias("node"))
            .distinct()
        )

    l1 = hop(seeds)
    l2 = hop(l1)
    l3 = hop(l2)
    labeled = (
        seeds.withColumn("_h", F.lit(0))
        .unionByName(l1.withColumn("_h", F.lit(1)))
        .unionByName(l2.withColumn("_h", F.lit(2)))
        .unionByName(l3.withColumn("_h", F.lit(3)))
    )
    return labeled.groupBy("node").agg(
        F.min("_h").cast("bigint").alias("hops")
    )


def qx49_division(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational DIVISION with a DATA-DRIVEN divisor: users active in
    EVERY event type present in the corpus.  qx43's INTERSECT covers
    the static-3-channel case; division generalizes to "all of
    whatever exists" — the divisor is the distinct event-type set
    itself, so new types tighten the gate without a query change.

    Plan shape (the count-distinct-equality decomposition, not an
    N-way semi chain): one per-user aggregate (countDistinct riding
    the same user_id exchange as the payload aggregates) gated against
    the 1-row divisor cardinality via crossJoin-broadcast (qx21
    idiom).  Exact arithmetic throughout — integer equality gate,
    decimal purchase totals, doubles only at the output boundary."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_type", "value"
    )
    per = ev.groupBy("user_id").agg(
        F.countDistinct("event_type").alias("_nt"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(
            F.when(F.col("event_type") == "purchase", money("value"))
            .otherwise(F.lit(0).cast(DECIMAL_MONEY))
        ).alias("_tot"),
    )
    divisor = ev.agg(F.countDistinct("event_type").alias("_nd"))
    return (
        per.crossJoin(F.broadcast(divisor))
        .filter(F.col("_nt") == F.col("_nd"))
        .select(
            "user_id",
            "n_events",
            F.col("_tot").cast("double").alias("purchase_total"),
        )
    )


def qx50_chisq_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """χ² test of independence for the documents lang × source
    contingency — the cross-tab statistics primitive (is language mix
    independent of source?).  Output: one row (chi2, dof, n).

    Plan shape: aggregate to the CELL grain first (one corpus-sized
    shuffle on (lang, source)), then eager-pin the |langs×sources|
    cell frame (qx44 idiom: row/column/total marginals are three
    DIFFERENT projections of it — re-aggregation without the pin
    re-plans the documents scan once per marginal, the qx34 hazard);
    every marginal is then a tiny broadcast back onto the pinned
    cells.  Float determinism: each cell term is computed from exact
    BIGINT counts with a FIXED double op order — products ≤ n² stay
    under 2⁵³ so (n·c − r·col) is exact; the term is rounded to 9 dp
    and summed as DECIMAL (associative), with one final round(6) —
    no order-dependent float summation anywhere."""
    docs = _t(spark, sf_dir, "documents").select("lang", "source")
    cells = (
        docs.groupBy("lang", "source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("_c"))
        .localCheckpoint(eager=True)
    )
    rmar = cells.groupBy("lang").agg(F.sum("_c").alias("_r"))
    cmar = cells.groupBy("source").agg(F.sum("_c").alias("_k"))
    tot = cells.agg(
        F.sum("_c").alias("_n"),
        (
            (F.countDistinct("lang") - 1)
            * (F.countDistinct("source") - 1)
        ).cast("bigint").alias("dof"),
    )
    d = F.col("_n").cast("double") * F.col("_c").cast("double") - F.col(
        "_r"
    ).cast("double") * F.col("_k").cast("double")
    denom = (
        F.col("_n").cast("double")
        * F.col("_r").cast("double")
        * F.col("_k").cast("double")
    )
    term = F.round(d * d / denom, 9).cast("decimal(28,9)")
    return (
        cells.join(F.broadcast(rmar), "lang")
        .join(F.broadcast(cmar), "source")
        .crossJoin(F.broadcast(tot))
        .groupBy("dof", "_n")
        .agg(F.round(F.sum(term).cast("double"), 6).alias("chi2"))
        .select("chi2", "dof", F.col("_n").cast("bigint").alias("n"))
    )


def qx51_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-WEIGHTED average value per (user, day) — the temporal
    integration primitive (plain avg() weights a value by how OFTEN it
    was observed; TWAP weights it by how LONG it held, the difference
    that matters for any sampled metric).  Segment weight = µs until
    the user's next same-day event (lead over the exact µs order with
    event_id tiebreak); the day's last observation carries no segment.

    Exactness discipline: durations are exact µs BIGINTs from the ns
    long (integer div — never float), values go through DECIMAL(18,2)
    per-operand BEFORE the duration product, so Σ(v·Δ) and ΣΔ are both
    exact and the ONE double division at the end is deterministic on
    both engines.  Plan: the lead window and the (user, day) aggregate
    ride one user_id-superset exchange family — no global stage."""
    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "user_id",
            F.to_date("ts").alias("day"),
            money("value").alias("_v"),
            tus("ts_ns").alias("_tus"),
            "event_id",
        )
    )
    w = Window.partitionBy("user_id", "day").orderBy("_tus", "event_id")
    seg = ev.withColumn(
        "_dus", F.lead("_tus").over(w) - F.col("_tus")
    ).filter(F.col("_dus").isNotNull())
    return seg.groupBy("user_id", "day").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_segments"),
        F.round(
            (F.sum(F.col("_v") * F.col("_dus")).cast("double"))
            / F.sum("_dus"),
            6,
        ).alias("twap"),
    )


def qx52_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE-PASS column profiler (the data-engineering report q99's
    per-source card doesn't give): null count, exact distinct count,
    numeric min/max per column, emitted as one row PER COLUMN — the
    shape every dataset onboarding starts from.

    Spark-first shape (round-16, guide §2.3/§2.5): ONE per-column
    TWO-LEVEL aggregate branch per profiled column, unioned.  The
    round-11..15 form computed all four countDistincts in a single
    aggregate, which plans as an Expand — every fact row multiplied
    ×(#distinct-aggs + 1) BEFORE the partial combine (5× the scan rows
    through the hash aggregate; the documented cost of one-pass
    exactness).  Splitting per column lets each branch apply the qx44
    rewrite instead: pre-aggregate at the column's value grain
    (map-side partials dedup per task, the exchange carries one row
    per distinct value), then countDistinct degenerates to a plain
    count and n_rows/n_null/min/max re-aggregate exactly from the
    grain counts.  Each branch's parquet scan prunes to its OWN single
    column, so total bytes read are unchanged (the old single scan
    read all four columns); no Expand node exists at any scale, and
    the branches are independent stages that overlap.  Measured solo
    min-of-6 at sf0.1: 1.22 → 0.36 s, values bit-identical at
    sf0.001/0.01/0.1; the win grows with row count (Expand is ×rows).
    The ``column``/``n_distinct`` CASE wrappers only restore the
    previous output NULLABILITY flags (the old stack() marked every
    pivoted column nullable; a bare literal/count is non-nullable and
    the driver's schema gate must see an identical schema) — the
    condition is trivially true on every row.
    String min/max are intentionally absent (cross-engine float/date
    formatting is parity quicksand); numerics are rounded doubles."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_returnflag", "l_shipdate"
    )

    def branch(c: str, numeric: bool) -> DataFrame:
        g = li.select(c).groupBy(c).agg(F.count(F.lit(1)).alias("_cnt"))
        aggs = [
            # coalesce keeps the empty-input value identical to the old
            # count(*) form (0, never NULL)
            F.coalesce(F.sum("_cnt"), F.lit(0)).cast("bigint").alias("n_rows"),
            F.sum(
                F.when(F.col(c).isNull(), F.col("_cnt")).otherwise(F.lit(0))
            ).cast("bigint").alias("n_null"),
            # count(col) over the value grain ≡ countDistinct(col):
            # one grain row per distinct value, NULL skipped by count
            F.count(F.col(c)).cast("bigint").alias("n_distinct"),
        ]
        if numeric:
            aggs += [
                # min/max over the grain ≡ min/max over the raw rows
                r6(F.min(c).cast("double")).alias("min_num"),
                r6(F.max(c).cast("double")).alias("max_num"),
            ]
        sel = [
            # always-true CASE (n_rows >= 0 by construction): value
            # unchanged, but the analyzed schema keeps these nullable —
            # matching the old stack() output exactly
            F.when(F.col("n_rows") >= 0, F.lit(c)).alias("column"),
            "n_rows",
            "n_null",
            F.when(F.col("n_rows") >= 0, F.col("n_distinct")).alias(
                "n_distinct"
            ),
        ]
        sel += (
            ["min_num", "max_num"]
            if numeric
            else [
                F.lit(None).cast("double").alias("min_num"),
                F.lit(None).cast("double").alias("max_num"),
            ]
        )
        return g.agg(*aggs).select(*sel)

    return (
        branch("l_orderkey", True)
        .unionByName(branch("l_quantity", True))
        .unionByName(branch("l_returnflag", False))
        .unionByName(branch("l_shipdate", False))
    ).select("column", "n_rows", "n_null", "n_distinct", "min_num", "max_num")


def qx53_data_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality CONSTRAINT report (the Deequ-class
    surface): completeness, range, compound-key uniqueness and
    referential integrity over lineitem/orders, one row per
    constraint with its violation count — what a pipeline gates a
    publish on.

    Plan shape — the WHOLE 5-constraint report is ONE LINEAR pipeline
    over ONE fact scan (the naive per-constraint form scans lineitem
    once per constraint family; a pin can't save it because the
    branches project different columns — the qx44 reuse-defeat):
    every row-level violation count aggregates to the uniqueness
    key's grain FIRST (sums are grain-invariant), the FK flag rides a
    single data-sized LEFT JOIN against the orders keyset AT that
    reduced grain, and one global aggregate folds all five counts,
    which ``stack`` pivots into the report rows.  NULL FKs are the
    not-null rule's finding, not the FK rule's (standard SQL FK
    semantics).  All counts exact BIGINTs."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey")
    keyed = li.groupBy("l_orderkey", "l_linenumber").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(
            (
                F.col("l_quantity").isNull()
                | (F.col("l_quantity") < 1)
                | (F.col("l_quantity") > 50)
            ).cast("bigint")
        ).alias("_q"),
        F.sum((F.col("l_extendedprice") <= 0).cast("bigint")).alias("_p"),
    )
    flagged = keyed.join(
        orders, F.col("l_orderkey") == F.col("o_orderkey"), "left"
    ).select(
        "*",
        (
            F.col("o_orderkey").isNull() & F.col("l_orderkey").isNotNull()
        ).alias("_fk_miss"),
    )
    report = flagged.agg(
        F.coalesce(
            F.sum(
                F.when(F.col("l_orderkey").isNull(), F.col("_n")).otherwise(
                    F.lit(0)
                )
            ),
            F.lit(0),
        ).alias("_c1"),
        F.coalesce(F.sum("_q"), F.lit(0)).alias("_c2"),
        F.coalesce(F.sum("_p"), F.lit(0)).alias("_c3"),
        F.coalesce(
            F.sum(
                F.when(F.col("_n") > 1, F.col("_n") - 1).otherwise(F.lit(0))
            ),
            F.lit(0),
        ).alias("_c4"),
        F.coalesce(
            F.sum(F.when(F.col("_fk_miss"), F.col("_n")).otherwise(F.lit(0))),
            F.lit(0),
        ).alias("_c5"),
    ).select(
        F.expr(
            "stack(5,"
            " 'l_orderkey_not_null', _c1,"
            " 'l_quantity_in_1_50', _c2,"
            " 'l_extendedprice_positive', _c3,"
            " 'orderkey_linenumber_unique', _c4,"
            " 'l_orderkey_fk_orders', _c5"
            ") AS (constraint, n_violations)"
        )
    )
    return report.select(
        "constraint",
        F.col("n_violations").cast("bigint").alias("n_violations"),
        (F.col("n_violations") == 0).alias("passed"),
    )


def qx54_cumulative_crossover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q51 shape: two INDEPENDENT per-key cumulative series
    (daily purchase-value vs click-value running totals) aligned by
    FULL OUTER join on the composite (user, day) key, forward-filled
    by RUNNING MAX (a monotone cumulative's running max IS its
    last-known value — the Q51 trick; q91's last(ignorenulls) fills a
    dense axis, this fills the OTHER SERIES' days with no axis at
    all), then the crossover predicate cum_purchase > cum_click on the
    filled frames.

    Plan shape (the EXCHANGE-MINIMAL form, measured against the naive
    one): the naive translation windows each channel's cumulative
    BEFORE the join — but a join requires co-partitioning on its FULL
    key set (subset satisfaction is an aggregate/window rule, NOT a
    join rule: requireAllClusterKeysForCoPartition defaults true), so
    each side pays (u,d) agg exchange → u window exchange → (u,d)
    join re-exchange: SEVEN exchanges.  Instead the DAILY aggregates
    join directly — the full outer reuses each side's own (u, day)
    aggregation partitioning with ZERO join exchange — and both
    cumulative series are built AFTER the join on one shared user
    window as running sums of the coalesced deltas, NULL-gated by the
    channel's running count (Σ of deltas ≡ the forward-filled
    cumulative; count>0 ≡ the series has started): THREE exchanges
    end-to-end, one Window node carrying all four functions.  NULL
    users are filtered at the source (a NULL key never equi-matches:
    the outer join would keep both sides' NULL-user rows separate and
    their intra-day window order is engine-dependent).  All
    comparisons in exact DECIMAL; doubles only at the boundary."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    day = F.expr("ts_ns div 86400000000000")

    def chan_daily(t: str, alias: str) -> DataFrame:
        return (
            ev.filter(F.col("event_type") == t)
            .groupBy("user_id", day.alias("d"))
            .agg(F.sum(money("value")).alias(alias))
        )

    j = chan_daily("purchase", "_b").join(
        chan_daily("click", "_v"), ["user_id", "d"], "full"
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    zero = F.lit(0).cast(DECIMAL_MONEY)
    filled = j.select(
        "user_id",
        "d",
        F.when(
            F.count("_b").over(wf) > 0,
            F.sum(F.coalesce(F.col("_b"), zero)).over(wf),
        ).alias("_fb"),
        F.when(
            F.count("_v").over(wf) > 0,
            F.sum(F.coalesce(F.col("_v"), zero)).over(wf),
        ).alias("_fv"),
    )
    return (
        filled.filter(
            F.col("_fb").isNotNull()
            & F.col("_fv").isNotNull()
            & (F.col("_fb") > F.col("_fv"))
        )
        .select(
            "user_id",
            "d",
            F.col("_fb").cast("double").alias("cum_purchase"),
            F.col("_fv").cast("double").alias("cum_click"),
        )
    )


def qx55_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SKYLINE (Pareto frontier) over part: the non-dominated set under
    (minimize p_retailprice, maximize p_size) — no other part is
    cheaper-or-equal AND larger-or-equal with at least one strict.
    The classic research operator (Börzsönyi et al., ICDE 2001); the
    naive form is the all-pairs NOT EXISTS the oracle runs — O(n²)
    and forbidden here.

    Scale shape — a GLOBAL-ORDER running aggregate WITHOUT a global
    window (the distributed prefix-max decomposition; skyline is
    DISTRIBUTIVE, so per-range local frontiers compose exactly):
    1. group to the DISTINCT-PRICE grain first (gmax = max size per
       price) — load-bearing twice: the strictly-cheaper dominance
       test needs strictly-lower ORDER rows (row frames over duplicate
       orderBy values split ties arbitrarily), and same-price
       dominance reduces to `size = gmax(price)`;
    2. eager-pin the price frame (qx50 idiom: the scalar [lo, hi],
       the bucket maxima and the main path are THREE different
       projections — unpinned, exchange reuse is defeated and the
       part scan + aggregation re-plan per consumer);
    3. bucket prices by a monotone affine map into B=64 fixed ranges
       off the crossJoin-broadcast 1-row [lo, hi] (qx21 idiom — the
       bucketing floats are INTERNAL: any deterministic monotone
       assignment yields the same skyline, so no cross-engine float
       boundary exists);
    4. prefix max across STRICTLY-LOWER buckets = B×B broadcast
       self-join of the ≤64-row bucket-max frame (never a
       SinglePartition window — the qx43 lesson);
    5. within-bucket strict-prefix max on a _bkt-PARTITIONED window;
       dominated prices are where greatest(cross-bucket, in-bucket)
       prefix max ≥ gmax (monotone bucket map ⇒ lower bucket ⇒
       strictly lower price, so the two prefixes together cover
       exactly the strictly-cheaper set);
    6. LEFT SEMI join part back on (price, size=gmax) — equal
       (price, size) duplicates are mutually non-dominating and all
       kept.  At 100 TB the surviving-price frame is typically tiny
       (AQE converts the semi to broadcast at runtime); the static
       plan stays a safe shuffle semi.
    Cost: two part scans (grain agg + final semi), one corpus-sized
    exchange on price, constant-frame bucket machinery.  The
    construction lives in operators/ordered.py::skyline_2d
    (property-tested against brute-force dominance on random point
    sets in tests/test_ordered_ops.py)."""
    part = _t(spark, sf_dir, "part")
    from ros_sql_spark.operators.ordered import skyline_2d

    return (
        skyline_2d(part, "p_retailprice", "p_size")
        .select("p_partkey", "p_name", "p_size", "p_retailprice")
        .orderBy("p_partkey")
    )


def qx56_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASSOCIATION RULES (A-priori, Agrawal-Srikant class) over order
    baskets at brand grain: directed rules ant→cons with support,
    confidence and lift, under three EXACT-INTEGER gates (no float
    thresholds anywhere): item support 8·s ≥ n (12.5%), pair support
    50·c ≥ n (2%), confidence 20·c ≥ 3·s_ant (15%).  At sf0.01 the
    gates all bite: 25 items → 22 frequent, 462 directed pairs → 404
    → 232 rules.

    Scale shape — the distributed frequent-itemset idiom:
    - pair CANDIDATES are never a basket self-join: baskets are
      collect_set-grouped once (the only corpus exchange on the
      basket key), the frequent-item prune lands BEFORE enumeration
      (the A-priori property — at real vocabularies the infrequent
      tail is most of the items), and ordered pairs are enumerated
      per basket by a double explode of the pruned set — |basket|²
      work bounded by the (constant) frequent vocabulary, zero join;
    - the basket frame is lazily pinned (three consumers — the n
      scalar, supports, the pair path — project it differently, so
      exchange reuse is structurally defeated: the qx44 rule);
    - `freq` (≤|vocab| rows, carrying n from the crossJoin-broadcast
      1-row count: qx21 idiom) is EAGERLY pinned: its three consumers
      (enumeration prune, ant/cons support joins) would otherwise
      each re-run the corpus-sized supports aggregation (the qx50
      marginal hazard);
    - metrics are single-division doubles in a FIXED op order from
      exact BIGINT counts, round(6) both engines."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pt = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    baskets = (
        li.join(pt, li["l_partkey"] == pt["p_partkey"])
        .groupBy("l_orderkey")
        .agg(F.collect_set("p_brand").alias("_its"))
        .localCheckpoint(eager=False)
    )
    n = baskets.agg(F.count(F.lit(1)).cast("bigint").alias("_n"))
    items = baskets.select(
        "l_orderkey", F.explode("_its").alias("_i")
    )
    supports = items.groupBy("_i").agg(
        F.count(F.lit(1)).cast("bigint").alias("_s")
    )
    freq = (
        supports.crossJoin(F.broadcast(n))
        .filter(F.lit(8) * F.col("_s") >= F.col("_n"))
        .localCheckpoint(eager=True)
    )
    fb = (
        items.join(F.broadcast(freq.select("_i")), "_i")
        .groupBy("l_orderkey")
        .agg(F.collect_set("_i").alias("_f"))
    )
    pairs = (
        fb.select(F.explode("_f").alias("ant"), "_f")
        .select("ant", F.explode("_f").alias("cons"))
        .filter(F.col("ant") != F.col("cons"))
        .groupBy("ant", "cons")
        .agg(F.count(F.lit(1)).cast("bigint").alias("pair_cnt"))
    )
    rules = (
        pairs.join(
            F.broadcast(freq.select(
                F.col("_i").alias("ant"),
                F.col("_s").alias("_sa"),
                "_n",
            )),
            "ant",
        )
        .join(
            F.broadcast(freq.select(
                F.col("_i").alias("cons"), F.col("_s").alias("_sb")
            )),
            "cons",
        )
        .filter(
            (F.lit(50) * F.col("pair_cnt") >= F.col("_n"))
            & (F.lit(20) * F.col("pair_cnt")
               >= F.lit(3) * F.col("_sa"))
        )
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    return rules.select(
        "ant",
        "cons",
        "pair_cnt",
        r6(d("pair_cnt") / d("_n")).alias("support"),
        r6(d("pair_cnt") / d("_sa")).alias("confidence"),
        r6((d("pair_cnt") * d("_n")) / (d("_sa") * d("_sb"))).alias(
            "lift"
        ),
    ).orderBy("ant", "cons")


def qx57_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WELCH two-sample t-test per day-of-week: does mean purchase
    value differ from mean click value?  t statistic + Welch
    (Satterthwaite) degrees of freedom — the mean-comparison member
    of the stats family (qx50 covers independence, q88/qx40 cover
    outliers; none compares group means with unequal variances).

    Float-parity discipline (the qx50 regime): every sufficient
    statistic is EXACT — counts as BIGINT, Σv as DECIMAL(18,2) sums,
    Σv² as DECIMAL(38,4) sums of the squared money cast — and the
    t/df doubles are assembled from those exact inputs in ONE fixed
    op order, round(6) both engines.  Spark's double aggregation
    never runs (order-nondeterministic float sums can't appear).

    Scale shape: ONE events scan, ONE exchange to the 7-row dow grain
    (conditional aggregates compute both samples' moments in the same
    pass — never two filtered scans joined; map-side partials reduce
    the shuffle to 7 rows per task).  dow from the ns epoch by
    integer arithmetic only ((days + 4) mod 7, 1970-01-01 = Thursday
    — the `div`-never-`/` rule).  NULL timestamps are dropped (qx62's
    rule, round-13 ADVICE): a NULL dow group would sort NULLS FIRST in
    Spark but NULLS LAST in DuckDB, breaking the order-sensitive
    driver hash; shipped data has none, but the filter makes the
    contract engine-independent."""
    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "click")
        & F.col("ts_ns").isNotNull()
    )
    dow = (F.expr("ts_ns div 86400000000000") + F.lit(4)) % F.lit(7)
    is_p = F.col("event_type") == "purchase"
    v = money("value")
    vv = v * v

    def moments(cond, tag: str):
        return [
            F.count(F.when(cond, F.col("value"))).alias(f"_n{tag}"),
            F.sum(F.when(cond, v)).alias(f"_s{tag}"),
            F.sum(F.when(cond, vv)).alias(f"_q{tag}"),
        ]

    g = (
        ev.groupBy(dow.alias("dow"))
        .agg(*moments(is_p, "1"), *moments(~is_p, "2"))
        .filter((F.col("_n1") > 1) & (F.col("_n2") > 1))
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731

    def var(s, q, n):
        # (Σv² − (Σv)²/n) / (n−1), every operand exact before the cast
        return (d(q) - d(s) * d(s) / d(n)) / (d(n) - F.lit(1.0))

    g = g.select(
        "dow", "_n1", "_n2",
        (d("_s1") / d("_n1")).alias("_m1"),
        (d("_s2") / d("_n2")).alias("_m2"),
        (var("_s1", "_q1", "_n1") / d("_n1")).alias("_e1"),
        (var("_s2", "_q2", "_n2") / d("_n2")).alias("_e2"),
    ).filter((F.col("_e1") + F.col("_e2")) > 0)
    se2 = F.col("_e1") + F.col("_e2")
    return g.select(
        "dow",
        F.col("_n1").alias("n_purchase"),
        F.col("_n2").alias("n_click"),
        r6(F.col("_m1")).alias("mean_purchase"),
        r6(F.col("_m2")).alias("mean_click"),
        r6((F.col("_m1") - F.col("_m2")) / F.sqrt(se2)).alias("t_stat"),
        r6(
            (se2 * se2)
            / (
                (F.col("_e1") * F.col("_e1")) / (d("_n1") - F.lit(1.0))
                + (F.col("_e2") * F.col("_e2")) / (d("_n2") - F.lit(1.0))
            )
        ).alias("welch_df"),
    ).orderBy("dow")


def qx58_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiplicative SEASONAL DECOMPOSITION of daily order revenue
    (STL-lite): centered 7-observation moving trend, day-of-week
    seasonal index, remainder = rev / (trend · index) — the
    seasonality member of the time-series family (qx36 = growth,
    qx45 = smoothing, qx51 = integration; none separates trend from
    weekly seasonality).

    Scale shape: ONE orders scan aggregates to the DAILY grain
    (calendar-bounded: ~2,400 rows at EVERY sf — the frame grows with
    time, not data, the qx36 exception class), so the global trend
    window's single-partition sort is over a constant-sized frame —
    and it runs at PIN time: the trended frame is eagerly
    checkpointed (two consumers — the dow-index aggregate and the
    final join — project it differently; the qx50 marginal rule), so
    the final plan reads an ExistingRDD.

    Float parity (the qx50 regime): the trend is kept as the EXACT
    7-day DECIMAL window sum (never an avg — decimal division scale
    rules diverge across engines); the seasonal index is
    Σ(7·rev)/Σ(trend7) per dow, BOTH sums exact decimals, ONE double
    division; remainder assembled in a fixed op order, round(6).
    Trend rows require the full 7-observation window (count == 7 —
    edge days carry no trend), and dow is pure integer arithmetic
    ((epoch_days + 4) mod 7)."""
    orders = _t(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(F.sum(money("o_totalprice")).alias("_rev"))
    w7 = Window.orderBy("day").rowsBetween(-3, 3)
    dow = (
        F.datediff(F.col("day"), F.lit("1970-01-01").cast("date"))
        + F.lit(4)
    ) % F.lit(7)
    trended = (
        daily.select(
            "day",
            "_rev",
            F.sum("_rev").over(w7).alias("_t7"),
            F.count("_rev").over(w7).alias("_c7"),
        )
        .filter(F.col("_c7") == 7)
        .select("day", dow.alias("dow"), "_rev", "_t7")
        .localCheckpoint(eager=True)
    )
    idx = trended.groupBy("dow").agg(
        F.sum(F.lit(7) * F.col("_rev")).alias("_sr"),
        F.sum("_t7").alias("_st"),
    )
    trend_d = F.col("_t7").cast("double") / F.lit(7.0)
    idx_d = F.col("_sr").cast("double") / F.col("_st").cast("double")
    return (
        trended.join(F.broadcast(idx), "dow")
        .select(
            "day",
            "dow",
            F.col("_rev").cast("double").alias("revenue"),
            r6(trend_d).alias("trend"),
            r6(idx_d).alias("seasonal_idx"),
            r6(
                F.col("_rev").cast("double") / (trend_d * idx_d)
            ).alias("remainder"),
        )
        .orderBy("day")
    )


def qx59_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SORTED-NEIGHBORHOOD dedup (Hernández-Stolfo merge/purge): sort
    the corpus by a key, compare each record only to its w−1=3
    successors in that order, keep pairs with token-set Jaccard ≥ 0.5
    — the classic windowed blocking strategy the dedup family lacked
    (bands/prefix/q-gram/LSH are all hash- or content-blocked; this
    one is ORDER-blocked).

    Scale shape — an EXACT global row number with no global window
    (the qx55 prefix decomposition, applied to ranks instead of
    maxima):
    1. bucket by the sort key's first character (buckets are
       CONTIGUOUS ranges of the key order by construction — a prefix
       of the key);
    2. bucket start offsets = prefix sums of the ≤|alphabet|-row
       bucket-count frame via its B×B broadcast self-join;
    3. rn = bucket_start + row_number over the bucket-PARTITIONED
       window — equal to the global row number for ANY bucket sizes
       (no minimum-bucket assumption, no boundary special cases);
    4. the band predicate 1 ≤ rn_b − rn_a ≤ 3 becomes an EQUI-join:
       each left row explodes to probes rn+1..rn+3 and joins on rn —
       a plain integer-keyed shuffle, w× amplification, never an
       inequality/cartesian;
    5. Jaccard verifies on the carried distinct-token sets (JVM
       array_intersect — the q32 discipline), one double division,
       identical gate expression both engines.
    The token-set frame is lazily pinned (left, right and the count
    frame are three differing projections of it — the qx44 rule).
    The rank construction lives in
    operators/ordered.py::bucketed_row_number (property-tested equal to
    the textbook global window in tests/test_ordered_ops.py)."""
    from ros_sql_spark.operators.ordered import bucketed_row_number

    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    o = (
        docs.select(
            "doc_id",
            F.lower("text").alias("_k"),
            F.array_distinct(F.split(F.lower("text"), " ")).alias("_s"),
        )
        .withColumn("_bkt", F.substring("_k", 1, 1))
        .localCheckpoint(eager=False)
    )
    ranked = bucketed_row_number(o, "_bkt", ["_k", "doc_id"]).select(
        "doc_id", "_s", "_rn"
    )
    left = ranked.select(
        F.col("doc_id").alias("da"),
        F.col("_s").alias("_sa"),
        F.explode(
            F.array(F.col("_rn") + 1, F.col("_rn") + 2, F.col("_rn") + 3)
        ).alias("_probe"),
    )
    right = ranked.select(
        F.col("doc_id").alias("db"),
        F.col("_s").alias("_sb"),
        F.col("_rn").alias("_probe"),
    )
    inter = F.size(F.array_intersect("_sa", "_sb"))
    union = F.size("_sa") + F.size("_sb") - inter
    jac = inter.cast("double") / union.cast("double")
    return (
        left.join(right, "_probe")
        .filter(jac >= F.lit(0.5))
        .select("da", "db", r6(jac).alias("jaccard"))
        .orderBy("da", "db")
    )


def qx60_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GINI coefficient of customer order-revenue per market segment —
    the concentration/inequality member of the stats family (qx50 =
    independence, qx57 = mean comparison; none measures how unequally
    a quantity is distributed).  Rank formula over values ascending:
    G = (2·Σ(i·xᵢ) − (n+1)·Σx) / (n·Σx) — equal values commute inside
    Σ(i·xᵢ), so the custkey tie-break changes nothing.

    The scale hazard this query exists to demonstrate: the rank is
    WITHIN a 5-value segment key, and `Window.partitionBy(segment)`
    would sort 1/5th of the corpus on one task at 100 TB.  Instead the
    rank comes from operators/ordered.py::bucketed_row_number with
    partition_cols=[segment] (round-12): value-range buckets off the
    crossJoin-broadcast [lo, hi] scalar make the window partition
    (segment, bucket) — B× finer — and per-segment bucket offsets ride
    the tiny counts frame (property-tested equal to the per-group
    window).  The joined per-customer frame is eagerly pinned (three
    differing projections: the scalar, the counts, the rank path).

    Exactness: x = DECIMAL(18,2) revenue sums; Σx and Σ(i·x) are exact
    decimal aggregates (bigint·decimal products); the single double
    division happens on the assembled exact numerator/denominator,
    round(6)."""
    from ros_sql_spark.operators.ordered import bucketed_row_number

    totals = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.sum(money("o_totalprice")).alias("_x"))
    )
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    j = (
        totals.join(cust, totals["o_custkey"] == cust["c_custkey"])
        .select("c_mktsegment", "c_custkey", "_x")
        .localCheckpoint(eager=True)
    )
    from ros_sql_spark.operators.ordered import affine_bucket

    binned = affine_bucket(j, "_x")
    ranked = bucketed_row_number(
        binned,
        "_bkt",
        ["_x", "c_custkey"],
        out="_i",
        partition_cols=["c_mktsegment"],
    )
    g = ranked.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum("_x").alias("_sx"),
        F.sum(F.col("_i") * F.col("_x")).alias("_six"),
    )
    num = (
        F.lit(2) * F.col("_six")
        - (F.col("n_customers") + F.lit(1)) * F.col("_sx")
    )
    den = F.col("n_customers") * F.col("_sx")
    return g.select(
        F.col("c_mktsegment").alias("segment"),
        "n_customers",
        F.col("_sx").cast("double").alias("total_revenue"),
        r6(num.cast("double") / den.cast("double")).alias("gini"),
    ).orderBy("segment")


def qx61_ols_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form MULTIPLE linear regression per group — OLS of
    extendedprice on (quantity, discount) per returnflag via the
    normal equations (X'X)β = X'y solved by Cramer's rule.  The
    distributed-ML training shape: model fitting reduces to ONE
    moment-aggregation pass (9 sufficient statistics), so a 100 TB
    fit costs exactly one scan + one tiny exchange — qx35's
    single-regressor slope generalized to the multivariate case.

    Exactness (qx50/qx57 regime): every moment is an exact value —
    cents-scaled BIGINT partial sums merged through exact DECIMAL
    arithmetic (below) — and the 3×3 determinants are assembled from
    the exact moments in ONE fixed double op order (textbook cofactor
    expansion, identical expression text in both engines), round(6).
    Groups need n ≥ 3 and a nonzero determinant — both gates on
    exactly-computed values.

    Round-15 (guide §1.2 step 2 + §2.5 two-level aggregation): the
    nine per-row DECIMAL sums were the measured cost of this query —
    isolated A/B on the same scan: decimal moments 1.95 s, bigint
    moments 0.77 s, bare count 0.22 s — Decimal128 hash-agg updates,
    not the scan, dominate.  Plain corpus-wide bigint sums would
    overflow at extreme scale (Σ p·q in 10⁻⁴ units grows ~3·10¹¹ per
    million rows), so the sums are TWO-LEVEL: per-(flag, input
    partition) bigint partials — bounded by rows-per-task: at 1 GiB
    task splits and ≥16 B/row, ≤ 6.7·10⁷ rows/task × 5·10¹⁰ max
    per-row term = 3.4·10¹⁸ < 2⁶³ with a 2.7× margin — then an exact
    DECIMAL(38,0) merge of the ≤|tasks|·|flags| partials, descaled by
    an exact decimal multiply (0.01 / 0.0001 at scale 2/4: the
    product types land decimal(38,2)/(38,4), integer-digit headroom
    34 digits, so the descale is an exact scale shift) — every moment
    is the SAME rational number the decimal sums produced, and the
    final decimal→double casts round once, identically.  The pid is
    only a salt and is summed out, so correctness is independent of
    partitioning/retries.  Interleaved A/B min-of-5: 1.93 → 1.23 s,
    output bit-identical; oracle (unchanged, straight decimal sums)
    parity green."""
    from ros_sql_spark.functions.util import assert_bigint_partial_margin

    # per-row max term: pc·qc ≤ 1.1e7 · 5e3 ≈ 5e10 (the docstring's
    # margin arithmetic); fail loudly on maxPartitionBytes drift
    # instead of silently wrapping a partial (round-15 ADVICE)
    assert_bigint_partial_margin(spark, per_row_max=5 * 10**10, label="qx61")
    li = _t(spark, sf_dir, "lineitem")
    qc = (F.col("l_quantity").cast(DECIMAL_MONEY) * 100).cast("bigint")
    dc = (F.col("l_discount").cast(DECIMAL_MONEY) * 100).cast("bigint")
    pc = (money("l_extendedprice") * 100).cast("bigint")
    part = (
        li.groupBy("l_returnflag", F.spark_partition_id().alias("_pid"))
        .agg(
            F.count(F.lit(1)).alias("_pn"),
            F.sum(qc).alias("_pq"),
            F.sum(dc).alias("_pd"),
            F.sum(pc).alias("_pp"),
            F.sum(qc * qc).alias("_pqq"),
            F.sum(dc * dc).alias("_pdd"),
            F.sum(qc * dc).alias("_pqd"),
            F.sum(pc * qc).alias("_ppq"),
            F.sum(pc * dc).alias("_ppd"),
        )
    )
    d38 = lambda col: F.col(col).cast("decimal(38,0)")  # noqa: E731
    s2 = F.expr("CAST(0.01 AS DECIMAL(3,2))")
    s4 = F.expr("CAST(0.0001 AS DECIMAL(5,4))")
    g = (
        part.groupBy("l_returnflag")
        .agg(
            F.sum("_pn").cast("bigint").alias("_n"),
            (F.sum(d38("_pq")) * s2).alias("_sq"),
            (F.sum(d38("_pd")) * s2).alias("_sd"),
            (F.sum(d38("_pp")) * s2).alias("_sp"),
            (F.sum(d38("_pqq")) * s4).alias("_sqq"),
            (F.sum(d38("_pdd")) * s4).alias("_sdd"),
            (F.sum(d38("_pqd")) * s4).alias("_sqd"),
            (F.sum(d38("_ppq")) * s4).alias("_spq"),
            (F.sum(d38("_ppd")) * s4).alias("_spd"),
        )
        .filter(F.col("_n") >= 3)
    )
    c = lambda name: F.col(name).cast("double")  # noqa: E731

    def det3(a11, a12, a13, a21, a22, a23, a31, a32, a33):
        return (
            a11 * (a22 * a33 - a23 * a32)
            - a12 * (a21 * a33 - a23 * a31)
            + a13 * (a21 * a32 - a22 * a31)
        )

    n, sq, sd = c("_n"), c("_sq"), c("_sd")
    sp, sqq, sdd = c("_sp"), c("_sqq"), c("_sdd")
    sqd, spq, spd = c("_sqd"), c("_spq"), c("_spd")
    det = det3(n, sq, sd, sq, sqq, sqd, sd, sqd, sdd)
    d0 = det3(sp, sq, sd, spq, sqq, sqd, spd, sqd, sdd)
    d1 = det3(n, sp, sd, sq, spq, sqd, sd, spd, sdd)
    d2 = det3(n, sq, sp, sq, sqq, spq, sd, sqd, spd)
    return (
        g.filter(det != F.lit(0.0))
        .select(
            "l_returnflag",
            F.col("_n").alias("n_rows"),
            r6(d0 / det).alias("intercept"),
            r6(d1 / det).alias("beta_quantity"),
            r6(d2 / det).alias("beta_discount"),
        )
        .orderBy("l_returnflag")
    )


def qx62_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM CHANGE-POINT detection on the daily event-value series —
    the drift-detection member of the time-series family (qx58 =
    seasonality, qx45 = smoothing): the top-3 candidate days by the
    scaled CUSUM statistic |S'_t| where S'_t = n·C_t − t·T (C_t =
    cumulative sum through day t, T = series total, t = day rank).
    S' is the classic Σ(xᵢ − x̄) CUSUM scaled by n — identical argmax,
    but EVERY quantity stays exact (bigint · decimal products; no
    mean, no division): cross-engine parity is structural, not a
    rounding accident.

    Scale shape: one events scan to the ~|days| daily grain
    (calendar-bounded — 30 rows at sf0.01 and at 100× that corpus),
    eagerly pinned; rank and cumulative sum both come from
    operators/ordered.py (bucketed_row_number + bucketed_running_sum over
    day-range buckets — no unpartitioned window even on the tiny
    frame, the suite-wide rule stays mechanical); the (n, T) scalar
    is a crossJoin-broadcast 1-row aggregate (qx21 idiom); final
    top-3 by (|S'| desc, day asc) is a LIMIT sort.  The statistic
    lives in operators/drift.py::cusum_scores — shared verbatim with
    the CONTINUOUS drift monitor (streaming/drift.py), so the
    stream-equals-batch equivalence is structural."""
    from ros_sql_spark.operators.drift import cusum_scores

    # NULL timestamps have no day (self-review fix: an unfiltered NULL
    # day would inflate the (n, T) scalar yet vanish from the rank
    # path's key join — and the streaming twin already filters)
    ev = _t(spark, sf_dir, "events").filter(F.col("ts_ns").isNotNull())
    daily = (
        ev.groupBy(
            F.expr("ts_ns div 86400000000000").alias("day")
        )
        .agg(F.sum(money("value")).alias("_x"))
        .localCheckpoint(eager=True)
    )
    return (
        cusum_scores(daily)
        .orderBy(F.desc("score"), F.asc("day"))
        .limit(3)
    )


def qx63_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample KOLMOGOROV-SMIRNOV test: does the purchase value
    distribution differ from the click value distribution?  The
    NONPARAMETRIC member of the stats family (qx57 compares means,
    qx50 independence) — KS = sup_v |F₁(v) − F₂(v)| over the pooled
    distinct-value grid, reported with its location.

    Exactness: the supremum is found on the SCALED statistic
    |n₂·c₁(v) − n₁·c₂(v)| — pure BIGINT arithmetic (identical argmax,
    no ECDF division until the final reported ks value), so parity is
    structural.

    Scale shape: unlike qx62's calendar frame, the distinct-value
    grid is CORPUS-sized — the bucket-decomposed running sum
    (operators/ordered.py) is load-bearing, not just discipline:
    per-value conditional counts in one pass (eagerly pinned — the
    [lo, hi] scalar, the (n₁, n₂) scalar and the cumulative path are
    three differing projections), value-range buckets off the
    broadcast scalar, BOTH samples' cumulative counts on one shared
    (bucket) window pass, TakeOrdered top-1."""
    from ros_sql_spark.operators.ordered import bucketed_running_sum

    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "click")
        & F.col("value").isNotNull()
    )
    is_p = F.col("event_type") == "purchase"
    grid = (
        ev.groupBy(F.col("value").alias("v"))
        .agg(
            F.count(F.when(is_p, 1)).alias("_d1"),
            F.count(F.when(~is_p, 1)).alias("_d2"),
        )
        .localCheckpoint(eager=True)
    )
    from ros_sql_spark.operators.ordered import affine_bucket

    nt = grid.agg(
        F.sum("_d1").alias("_n1"), F.sum("_d2").alias("_n2")
    )
    binned = affine_bucket(grid, "v")
    c1 = bucketed_running_sum(binned, "_bkt", ["v"], "_d1", out="_c1")
    c2 = bucketed_running_sum(c1, "_bkt", ["v"], "_d2", out="_c2")
    s = c2.crossJoin(F.broadcast(nt)).select(
        F.col("v").alias("at_value"),
        "_n1",
        "_n2",
        F.abs(
            F.col("_n2") * F.col("_c1") - F.col("_n1") * F.col("_c2")
        ).alias("d_scaled"),
    )
    return (
        s.select(
            "at_value",
            F.col("_n1").alias("n1"),
            F.col("_n2").alias("n2"),
            "d_scaled",
            r6(
                F.col("d_scaled").cast("double")
                / (F.col("_n1") * F.col("_n2")).cast("double")
            ).alias("ks"),
        )
        .orderBy(F.desc("d_scaled"), F.asc("at_value"))
        .limit(1)
    )


def qx64_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED MEDIAN of extendedprice (weighted by quantity) per
    returnflag — the weighted member of the percentile family
    (q44/q45 are unweighted; no existing query weights the
    distribution): the smallest value v with 2·cumW(v) ≥ W.

    Exactness: weights are integral quantities summed as exact
    BIGINTs, the crossing test 2·cumW ≥ W is pure integer arithmetic,
    and the median value is a passthrough double — nothing is ever
    rounded, parity is structural.

    Scale shape (round-16): the (flag, price) grain is corpus-sized
    (~distinct prices per flag), but the median crossing lives in
    exactly ONE price-bucket per flag — the first bucket whose
    end-of-bucket cumulative weight reaches W/2, locatable entirely
    from the tiny (flag, bucket) sums frame (≤ flags×B rows, B×B
    broadcast prefix, the bucketed_running_sum decomposition's own
    summary).  Rows in later buckets all qualify but have strictly
    greater price (monotone binning: bkt(a) < bkt(b) ⟹ a < b), rows
    in earlier buckets never qualify — so min(p) over the suffix
    equals min(p) within the crossing bucket, and the per-row window
    runs over ~N/B rows instead of N (interleaved A/B at sf0.1:
    2.19 → 1.79 s min-of-6, values bit-identical; at the 4096-bucket
    cap the window stage shrinks 4096×).  The window still partitions
    on (flag, bucket) — never flag alone (3 groups = 1/3 corpus on
    one task, the qx60 hazard; here it is one surviving bucket per
    flag either way).  Grain pinned (scalar [lo, hi], bucket sums and
    the pruned window path = three differing projections)."""
    from ros_sql_spark.operators.ordered import affine_bucket

    li = _t(spark, sf_dir, "lineitem")
    g = (
        li.groupBy(
            F.col("l_returnflag").alias("f"),
            F.col("l_extendedprice").alias("p"),
        )
        .agg(F.sum("l_quantity").cast("bigint").alias("_wt"))
        .localCheckpoint(eager=True)
    )
    tot = g.groupBy("f").agg(F.sum("_wt").alias("_w"))
    binned = affine_bucket(g, "p")
    bsum = binned.groupBy("f", "_bkt").agg(F.sum("_wt").alias("_bs"))
    lower = bsum.select(
        F.col("f").alias("_pf"),
        F.col("_bkt").alias("_pb"),
        F.col("_bs").alias("_pv"),
    )
    # per-bucket inclusive end-cum + exclusive start offset in ONE
    # B×B broadcast prefix join (≤ joins itself, when() splits them)
    pre = (
        bsum.alias("a")
        .join(
            F.broadcast(lower),
            (F.col("_pf") == F.col("a.f"))
            & (F.col("_pb") <= F.col("a._bkt")),
        )
        .groupBy(F.col("a.f").alias("f"), F.col("a._bkt").alias("_bkt"))
        .agg(
            F.sum("_pv").alias("_cend"),
            F.sum(
                F.when(F.col("_pb") < F.col("a._bkt"), F.col("_pv"))
            ).alias("_soff"),
        )
    )
    cr = (
        pre.join(F.broadcast(tot), "f")
        .filter(F.lit(2) * F.col("_cend") >= F.col("_w"))
        .groupBy("f", "_w")
        .agg(F.min(F.struct("_bkt", "_soff")).alias("_c"))
        .select(
            "f",
            "_w",
            F.col("_c._bkt").alias("_bk"),
            F.coalesce(F.col("_c._soff"), F.lit(0)).alias("_soff"),
        )
    )
    sel = binned.join(F.broadcast(cr), "f").filter(
        F.col("_bkt") == F.col("_bk")
    )
    w = (
        Window.partitionBy("f", "_bkt")
        .orderBy("p")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = sel.withColumn("_cw", F.col("_soff") + F.sum("_wt").over(w))
    return (
        cum.filter(F.lit(2) * F.col("_cw") >= F.col("_w"))
        .groupBy("f", "_w")
        .agg(F.min("p").alias("weighted_median"))
        .select(
            F.col("f").alias("returnflag"),
            F.col("_w").alias("total_weight"),
            "weighted_median",
        )
        .orderBy("returnflag")
    )


def qx65_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUANTILE NORMALIZATION of the purchase vs click value
    distributions (the batch-effect-correction transform: replace
    each distribution's K=20 quantile-bin means with the cross-group
    reference profile) — the distribution-ALIGNMENT member of the
    stats family (qx63 measures the gap, this one removes it).

    Exactness: within-group ranks come from
    operators/ordered.py::bucketed_row_number(partition_cols=[g])
    over the (value, event_id) total order; bin = ((rk−1)·K) div n_g
    is exact integer arithmetic; per-(group, bin) sums are exact
    DECIMAL; the reference profile (mp + mc)/2 and the reported means
    are fixed-op-order doubles, round(6) — the two group means enter
    by CONDITIONAL aggregation, never an order-dependent float sum.

    Scale shape: the ranked frame is corpus-sized → the (g, bucket)
    partitioned rank (never partitionBy(g) alone — 2 groups = half
    the corpus on one task); the tokenless source frame is lazily
    pinned (rank-op counts, per-group totals and the rank path are
    three differing projections); the 40-row bin frame is eagerly
    pinned before its two consumers (qx50 marginal rule)."""
    from ros_sql_spark.operators.ordered import bucketed_row_number

    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "click")
        & F.col("value").isNotNull()
    )
    o = ev.select(
        F.col("event_type").alias("g"),
        F.col("value").alias("v"),
        "event_id",
    ).localCheckpoint(eager=False)
    from ros_sql_spark.operators.ordered import affine_bucket

    binned = affine_bucket(o, "v")
    ranked = bucketed_row_number(
        binned, "_bkt", ["v", "event_id"], out="_rk",
        partition_cols=["g"],
    )
    ng = o.groupBy("g").agg(F.count(F.lit(1)).cast("bigint").alias("_n"))
    K = 20
    b = (
        ranked.join(F.broadcast(ng), "g")
        .withColumn(
            "bin", F.expr(f"((_rk - 1) * {K}) div _n").cast("bigint")
        )
        .groupBy("g", "bin")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(money("v")).alias("_s"),
        )
        .localCheckpoint(eager=True)
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    gm = d("_s") / d("n_rows")
    p = b.groupBy("bin").agg(
        F.max(F.when(F.col("g") == "purchase", gm)).alias("_mp"),
        F.max(F.when(F.col("g") == "click", gm)).alias("_mc"),
    )
    return (
        b.join(F.broadcast(p), "bin")
        .select(
            F.col("g").alias("grp"),
            "bin",
            "n_rows",
            r6(gm).alias("group_mean"),
            r6((F.col("_mp") + F.col("_mc")) / F.lit(2.0)).alias(
                "normalized"
            ),
        )
        .orderBy("grp", "bin")
    )


def qx66_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUDIO COLUMN round-trip statistics, VALUE-EXACT through the real
    RIFF/WAVE codec (round-13 — closes the verdict's "no declared
    query exercises the audio modality" gap the honest way): per
    document, a deterministic int16 PCM signal is synthesized from a
    pure-integer closed form, ENCODED to real WAV bytes and DECODED
    back (operators/codecs.py — chunk walk, fmt parse, 16-bit
    quantization) inside Arrow-batched mapInPandas
    (operators/multimodal.py::audio_roundtrip_stats), and the exact
    integer statistics of the decoded samples (n, container bytes,
    Σx, Σx², zero crossings) come out.  The DuckDB oracle regenerates
    every integer from doc_id alone (unnest(generate_series) + the
    same closed form; the zero-cross predecessor is computed INLINE
    from the closed form at i−1, window-free) — a hash match proves
    the encode→decode loop is lossless and the RIFF metadata parses
    right, the q39/sketch-parity discipline.  duration/RMS are
    fixed-op-order doubles assembled OUTSIDE the UDF from the exact
    integers, round(6) both engines.

    Scale: one pruned-column scan, zero shuffles before the output
    sort — the mapInPandas is embarrassingly parallel and the signal
    length is bounded (≤240 samples/row)."""
    from ros_sql_spark.operators.multimodal import audio_roundtrip_stats

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    s = audio_roundtrip_stats(docs, "doc_id")
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    return s.select(
        "doc_id",
        "n_samples",
        "sample_rate",
        "n_bytes",
        "sum_s",
        "sum_sq",
        "n_zero_cross",
        r6(d("n_samples") / F.lit(16000.0)).alias("duration_s"),
        r6(
            F.sqrt(d("sum_sq") / d("n_samples")) / F.lit(32768.0)
        ).alias("rms"),
    ).orderBy("doc_id")


def qx67_video_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VIDEO COLUMN round-trip statistics, VALUE-EXACT through the
    real YUV4MPEG2 codec (round-13 — with qx66 this puts a declared
    value-exact query on all three modalities): grayscale closed-form
    frames encode→decode through the full BT.601 + 4:2:0 pipeline
    (gray is the exactness family — chroma stays 128 through the 2×2
    mean and decode returns the luma bit-for-bit), exact integer
    stats of the decoded frames out, oracle regenerates them from
    doc_id via three chained unnest(generate_series) grids.  See
    operators/multimodal.py::video_roundtrip_stats for the details;
    the container-size column checks the header/FRAME byte layout.

    Scale: one pruned-column scan, shuffle-free mapInPandas, ≤256
    luma samples per row."""
    from ros_sql_spark.operators.multimodal import video_roundtrip_stats

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    s = video_roundtrip_stats(docs, "doc_id")
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    return s.select(
        "doc_id",
        "n_frames",
        "width",
        "height",
        "fps_num",
        "fps_den",
        "n_bytes",
        "sum_luma",
        "sum_sq",
        "motion_abs",
        r6(d("n_frames") / F.lit(25.0)).alias("duration_s"),
    ).orderBy("doc_id")


def qx68_spatial_radius_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRID-BUCKETED SPATIAL RADIUS JOIN (round-13 — a new operator
    family: 2-D distance predicates, previously uncovered): suppliers
    and customers get closed-form integer coordinates on a 10000²
    grid, and each supplier reports how many customers sit within
    Euclidean distance 500, the nearest one and its exact squared
    distance.

    The Spark plan is operators/spatial.py::grid_radius_join — the
    supplier side expands to its 3×3 cell neighborhood (cell size =
    radius makes that candidate set provably COMPLETE), the join is a
    plain cell-key equi-join, and the exact d² ≤ r² check runs only
    on candidates; the DuckDB oracle is the NAIVE all-pairs distance
    filter, so a hash match proves the grid generator loses no pair —
    the dedup-suite completeness discipline applied to geometry.  No
    CartesianProduct anywhere in the Spark plan (suite guard).

    Exactness: everything is integer (closed-form coords, squared
    distances); the argmin carries its tie-break in one BIGINT —
    min(d2·2³⁵ + custkey) — decoded after the aggregate (the
    exact-integer argmax idiom, CLAUDE.md).  The 2³⁵ multiplier is
    domain-proof (round-13 review — 10⁶ overflowed into the d2 field
    for custkey ≥ 10⁶, i.e. TPC-H sf ≳ 7): d² ≤ 2·9999² needs 28
    bits, keys up to 2³⁵ ≈ 34 B fit below, and the product stays
    under 2⁶³."""
    from ros_sql_spark.operators.spatial import grid_radius_join

    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("b_id"),
        ((F.col("c_custkey") * 48271 + 11) % 10000).alias("bx"),
        ((F.col("c_custkey") * 69621 + 7) % 10000).alias("by"),
    )
    supp = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("p_id"),
        ((F.col("s_suppkey") * 16807 + 3) % 10000).alias("px"),
        ((F.col("s_suppkey") * 39709 + 19) % 10000).alias("py"),
    )
    pairs = grid_radius_join(supp, cust, radius=500)
    m = 34_359_738_368  # 2^35
    packed = F.col("d2").cast("bigint") * F.lit(m) + F.col("b_id")
    agg = pairs.groupBy(F.col("p_id").alias("s_suppkey")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_within"),
        F.min(packed).alias("_m"),
    )
    return agg.select(
        "s_suppkey",
        "n_within",
        F.expr(f"_m div {m}").cast("bigint").alias("min_d2"),
        (F.col("_m") % F.lit(m)).cast("bigint").alias("nearest_cust"),
    ).orderBy("s_suppkey")


def qx69_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KAPLAN-MEIER survival curve for click→purchase conversion —
    the CENSORING-AWARE member of the time-to-event family (qx37's
    time-to-convert silently drops users who never convert; survival
    analysis is the statistically honest treatment, and no declared
    query covered it): per user, duration = days from first click to
    first subsequent purchase (event) or to the corpus horizon
    (censored); the curve is S(t) = Π_{s≤t} (1 − d_s/n_s) over the
    duration grid with d = events and n = at-risk.

    Exactness: d/c/n are pure BIGINT (days by integer `div`, at-risk
    as a suffix sum); S(t) is exp(Σ ln(1 − d/n)) accumulated in
    ASCENDING duration order — the same fixed op order both engines
    (the qx58 window-float discipline) — with an exact integer
    zero-flag prefix so a (d == n) extinction point reports 0.0
    without either engine evaluating ln(0).  round(6).  NULL
    timestamps filtered (the qx57 rule).

    Scale shape: one events scan feeds both the first-click and
    first-purchase aggregates on the SAME user_id exchange family;
    the horizon is a keyless-combine scalar broadcast; the grid is
    DURATION-days — calendar-bounded (~10³ rows at every sf, the
    qx36 exception class) — and its windows run at PIN time (eager
    checkpoint, the qx58 idiom), so the final plan reads an
    ExistingRDD and the suite's SinglePartition guard sees only the
    scalar combine."""
    ev = _t(spark, sf_dir, "events").filter(
        F.col("ts_ns").isNotNull()
        & F.col("event_type").isin("click", "purchase")
        & F.col("user_id").isNotNull()
    ).localCheckpoint(eager=False)  # three consumers, cheap frame
    day = lambda c: F.expr(f"{c} div 86400000000000")  # noqa: E731
    first_click = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.min("ts_ns").alias("_c_ns"))
    )
    horizon = ev.agg(F.max(day("ts_ns")).alias("_hday"))
    purch = (
        ev.filter(F.col("event_type") == "purchase")
        .join(first_click, "user_id")
        # µs-floored comparison: DuckDB sees TIMESTAMP(NANOS) truncated
        # to µs, so the after-first-click gate must not depend on
        # sub-µs order (CLAUDE.md time discipline)
        .filter(
            F.expr("ts_ns div 1000") >= F.expr("_c_ns div 1000")
        )
        .groupBy("user_id")
        .agg(F.min("ts_ns").alias("_p_ns"))
    )
    per_user = (
        first_click.join(purch, "user_id", "left")
        .crossJoin(F.broadcast(horizon))
        .select(
            F.when(
                F.col("_p_ns").isNotNull(),
                day("_p_ns") - day("_c_ns"),
            )
            .otherwise(F.col("_hday") - day("_c_ns"))
            .cast("bigint")
            .alias("dur"),
            F.col("_p_ns").isNotNull().cast("int").alias("_e"),
        )
    )
    grid = per_user.groupBy("dur").agg(
        F.sum("_e").cast("bigint").alias("n_events"),
        F.sum(1 - F.col("_e")).cast("bigint").alias("n_censored"),
    )
    wpre = Window.orderBy("dur").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wsuf = Window.orderBy("dur").rowsBetween(
        0, Window.unboundedFollowing
    )
    n_risk = F.sum(F.col("n_events") + F.col("n_censored")).over(wsuf)
    km = grid.select(
        "dur", "n_events", "n_censored", n_risk.alias("n_risk")
    )
    factor_zero = (F.col("n_events") == F.col("n_risk")).cast("int")
    lnterm = F.when(
        (F.col("n_events") > 0) & (F.col("n_events") < F.col("n_risk")),
        F.log(
            F.lit(1.0)
            - F.col("n_events").cast("double")
            / F.col("n_risk").cast("double")
        ),
    ).otherwise(F.lit(0.0))
    km = km.select(
        "dur",
        "n_risk",
        "n_events",
        "n_censored",
        F.max(factor_zero).over(wpre).alias("_z"),
        F.sum(lnterm).over(wpre).alias("_ls"),
    ).localCheckpoint(eager=True)  # windows run here (qx58 idiom)
    return km.select(
        F.col("dur").alias("duration_days"),
        "n_risk",
        "n_events",
        "n_censored",
        F.when(F.col("_z") == 1, F.lit(0.0))
        .otherwise(r6(F.exp(F.col("_ls"))))
        .alias("survival"),
    ).orderBy("duration_days")


def qx70_dbscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN density clustering (round-13 — the DENSITY member of the
    clustering family; IVF-KMeans is centroid-based, components are
    similarity-graph-based, nothing covered density): customers on
    closed-form integer coordinates, ε = 300, minPts = 4 over a FIXED
    key cohort (custkey < 1500 — DBSCAN parameters are density-tied,
    and a fixed cohort keeps the density scale-free exactly like q15's
    doc_id < 40 component cohort).

    Composition of two scale-safe operators: neighborhoods from
    operators/spatial.py::grid_radius_join (3×3-cell complete
    candidate generation — the all-pairs ε-graph without a cartesian),
    clusters from operators/dedup.py::connected_components_star over
    the core-core edges (1,072 cores / 1,684 edges / 14 clusters on a
    FIXED 1,500-point cohort, the same at every sf).  That graph is
    far below the operator's small-graph threshold, so it never enters
    a distributed loop: the labels come from ONE union-find task
    (round 14: 6.07 → 1.78 s floor).  Star is still the right engine
    should the cohort ever grow past the threshold — near the
    percolation threshold DBSCAN clusters can be long chains, where
    min-label propagation needs a round per hop and star needs
    O(log²) rounds.  Border points
    attach to the MIN cluster label among their core neighbors
    (deterministic tie-break; plain DBSCAN leaves it
    arrival-order-dependent), noise is excluded.  Everything integer
    except nothing — the whole query is exact.

    Oracle: naive all-pairs ε-graph + recursive-CTE min-label
    components (the q15 pattern) — the hash match again proves grid
    completeness, now composed through a clustering endgame."""
    from ros_sql_spark.operators.dedup import connected_components_star
    from ros_sql_spark.operators.spatial import grid_radius_join

    eps, minpts = 300, 4
    cust = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") < 1500)
        .select(
            F.col("c_custkey").alias("p_id"),
            ((F.col("c_custkey") * 48271 + 11) % 10000).alias("px"),
            ((F.col("c_custkey") * 69621 + 7) % 10000).alias("py"),
        )
        .localCheckpoint(eager=False)  # probe + base + later joins
    )
    base = cust.select(
        F.col("p_id").alias("b_id"),
        F.col("px").alias("bx"),
        F.col("py").alias("by"),
    )
    # ε-neighborhoods INCLUDING self (|N_ε(p)| ∋ p, the textbook
    # definition minPts counts against); pinned — degree, core-core
    # edges and border attachment are three differing projections
    nb = grid_radius_join(cust, base, eps).select(
        "p_id", "b_id"
    ).localCheckpoint(eager=False)
    core = (
        nb.groupBy("p_id")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") >= minpts)
        .select(F.col("p_id").alias("id"))
        .localCheckpoint(eager=True)  # consumed by 3 separate actions
    )
    core_edges = (
        nb.filter(F.col("p_id") < F.col("b_id"))
        .join(core.select(F.col("id").alias("p_id")), "p_id", "left_semi")
        .join(core.select(F.col("id").alias("b_id")), "b_id", "left_semi")
        .select("p_id", "b_id")
    )
    comp = connected_components_star(
        core_edges, nodes=core, src_col="p_id", dst_col="b_id"
    )  # (id, component)
    core_out = comp.select(
        F.col("id").alias("c_custkey"),
        F.col("component").cast("bigint").alias("cluster"),
        F.lit(True).alias("is_core"),
    )
    border_out = (
        nb.join(core.select(F.col("id").alias("p_id")), "p_id", "left_anti")
        .join(
            comp.select(
                F.col("id").alias("b_id"),
                F.col("component").alias("_cl"),
            ),
            "b_id",
        )
        .groupBy("p_id")
        .agg(F.min("_cl").cast("bigint").alias("cluster"))
        .select(
            F.col("p_id").alias("c_custkey"),
            "cluster",
            F.lit(False).alias("is_core"),
        )
    )
    return core_out.unionByName(border_out).orderBy("c_custkey")


def qx71_image_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IMAGE CODEC cross-verification under the oracle (round-13 —
    with qx66/qx67 every modality's REAL codec path is now
    driver-gate-visible, not just locally tested): closed-form
    grayscale pixels per document are encoded through ALL FIVE
    lossless image codecs (BMP, PPM, PNG, GIF, TIFF-LZW+predictor),
    decoded back through the magic-sniffing decode_image, asserted
    EQUAL to the source in-task, and the exact integer statistics +
    the two byte-predictable container sizes come out
    (operators/multimodal.py::image_roundtrip_stats).  A DuckDB hash
    match therefore certifies five encode→decode loops lossless and
    the BMP/PPM byte layouts correct, per document.

    Scale: one pruned column, shuffle-free mapInPandas, bounded
    per-row work (≤96 px × 5 codecs) over a DETERMINISTIC 1-in-10
    cohort (doc_id % 10 = 0, oracle-mirrored): the per-doc cost is
    Python-LZW-bound (measured 10 s for the full sf0.1 corpus, ~1 s
    sampled) and a codec bug is systematic — it fails on ANY image,
    so the sample loses no detection power while the closed form
    still sweeps the value space across the cohort."""
    from ros_sql_spark.operators.multimodal import image_roundtrip_stats

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 10 == 0)
        .select("doc_id")
    )
    return image_roundtrip_stats(docs, "doc_id").orderBy("doc_id")


def qx72_spatial_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRID kNN JOIN (round-14 — the second spatial family member per
    the r13 verdict): each supplier's 5 nearest customers by exact
    squared Euclidean distance on the qx68 closed-form integer
    coordinate grid, ties broken (d2, custkey) — one row per
    (supplier, rank).

    The Spark plan is operators/spatial.py::grid_knn_join — an
    EXPANDING-RING cell search: ring 1 is the 3×3 neighborhood, ring R
    adds only the 8R-cell Chebyshev shell, and a probe settles once
    its k-th candidate distance is ≤ R·cell (the bounded-miss argument
    makes the result EXACT — see the operator docstring for the proof
    and the no-duplicate-pairs shell-disjointness argument).  The
    DuckDB oracle is the NAIVE all-pairs row_number top-k, so a hash
    match proves the ring search complete — the qx68 completeness
    discipline.  No CartesianProduct in the Spark plan (suite guard).

    Exactness: integer coords, integer d², deterministic (d2, b_id)
    ordering; rank cast to BIGINT on both sides (driver hash is
    dtype-sensitive).  Cell size 300 ≈ the sf0.1 density sweet spot
    (most probes settle at ring 1–2; sparse sf0.01 widens to ~2–3
    rings — the stragglers-only ring cost is the point)."""
    from ros_sql_spark.operators.spatial import grid_knn_join

    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("bigint").alias("b_id"),
        ((F.col("c_custkey") * 48271 + 11) % 10000).cast("bigint").alias("bx"),
        ((F.col("c_custkey") * 69621 + 7) % 10000).cast("bigint").alias("by"),
    )
    supp = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").cast("bigint").alias("p_id"),
        ((F.col("s_suppkey") * 16807 + 3) % 10000).cast("bigint").alias("px"),
        ((F.col("s_suppkey") * 39709 + 19) % 10000).cast("bigint").alias("py"),
    )
    knn = grid_knn_join(supp, cust, k=5, cell=300)
    return knn.select(
        F.col("p_id").alias("s_suppkey"),
        F.col("rank").cast("bigint").alias("rank"),
        F.col("b_id").alias("c_custkey"),
        F.col("d2").cast("bigint").alias("d2"),
    ).orderBy("s_suppkey", "rank")


def qx73_spatial_bbox_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOUNDING-BOX CONTAINMENT JOIN (round-14 — the third spatial
    family member the r13 verdict named): each supplier owns a
    closed-form axis-aligned rectangle (corner from one hash pair,
    extent < 400 from another), and the query reports, per box with at
    least one hit, how many customers' points fall inside plus the
    exact integer key statistics of the contained set.

    Spark plan: operators/spatial.py::grid_bbox_join — boxes rasterize
    to their ≤ 2×2 covered cells of size 400 (extent < cell ⇒ at most
    4), points map 1:1 to their cell, candidates come from a plain
    cell-key equi-join and only candidates pay the exact BETWEEN check
    (no cartesian; suite guard).  The DuckDB oracle is the naive
    all-pairs BETWEEN filter — a hash match proves the rasterized
    candidate generator complete.  Everything integer-exact."""
    from ros_sql_spark.operators.spatial import grid_bbox_join

    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("bigint").alias("p_id"),
        ((F.col("c_custkey") * 48271 + 11) % 10000).cast("bigint").alias("px"),
        ((F.col("c_custkey") * 69621 + 7) % 10000).cast("bigint").alias("py"),
    )
    boxes = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").cast("bigint").alias("b_id"),
        ((F.col("s_suppkey") * 16807 + 3) % 9600).cast("bigint").alias("x1"),
        ((F.col("s_suppkey") * 39709 + 19) % 9600).cast("bigint").alias("y1"),
        (
            (F.col("s_suppkey") * 16807 + 3) % 9600
            + (F.col("s_suppkey") * 25173 + 5) % 400
        ).cast("bigint").alias("x2"),
        (
            (F.col("s_suppkey") * 39709 + 19) % 9600
            + (F.col("s_suppkey") * 30103 + 1) % 400
        ).cast("bigint").alias("y2"),
    )
    pairs = grid_bbox_join(cust, boxes, cell=400)
    return (
        pairs.groupBy(F.col("b_id").alias("s_suppkey"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_in"),
            F.sum("p_id").cast("bigint").alias("sum_keys"),
            F.min("p_id").cast("bigint").alias("min_key"),
            F.max("p_id").cast("bigint").alias("max_key"),
        )
        .orderBy("s_suppkey")
    )


def qx74_naive_bayes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAINED multinomial Naive Bayes scorer (round-14 — the first
    supervised train/apply member: qx35's lang-id is a fixed
    heuristic; this LEARNS from a labeled split): train on the
    doc_id % 5 != 0 documents (lang = label, q93's whitespace
    tokenization), score every held-out (doc, class) pair with
    Laplace-smoothed log-likelihoods:

        score(d, l) = Σ_t ln(c_{l,t} + 1)             (per token inst.)
                    + ln(docs_l) − ln(docs_total)      (class prior)
                    − n_tok(d) · ln(N_l + V)           (normalizer)

    The full per-(doc, lang) ROUNDED score grid is the output — no
    float argmax decision crosses the engine boundary (a 1e-15
    summation difference could flip a tie; emitting the grid keeps
    parity at the suite's round-6 float discipline while testing every
    count, prior, vocabulary and smoothing term).  All counts integer;
    ln/round(6) identical expressions both engines (q93 precedent).

    Scale: the train-side (lang, term) count frame is LAZILY
    checkpointed — three consumers (score join, per-class totals,
    vocabulary) project different column sets, which defeats exchange
    reuse (CLAUDE.md), and the LogicalRDD boundary makes the corpus
    aggregate run once; the test-side fan-out is |classes|-bounded via
    a broadcast nested-loop join (never a cartesian of two data-sized
    frames); the score join shuffles on (lang, term).  Round-16: the
    per-doc token count n_tok rides the GRID aggregate as a plain
    count(1) — after the |classes| fan every (doc, lang) group holds
    exactly the doc's term instances, so the count is the token count
    EXACTLY and the old separate ntk aggregate (a second full
    tokenize+explode pass over the test corpus plus a doc-keyed join)
    disappears (plan: 6 → 5 document scans; local A/B a wash at sf0.1
    — 0.506 → 0.499 min-of-6 — the win is the removed corpus pass at
    scale; values bit-identical at sf0.001/0.01/0.1)."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("lang").isNotNull())
    train = docs.filter(F.col("doc_id") % 5 != 0)
    test = docs.filter(F.col("doc_id") % 5 == 0)
    ttok = train.select(
        "lang",
        F.explode_outer(F.split(F.lower("text"), " ")).alias("term"),
    ).filter(F.col("term").isNotNull())
    counts = (
        ttok.groupBy("lang", "term")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    totals = counts.groupBy("lang").agg(F.sum("c").alias("n_l"))
    vocab = counts.select("term").distinct().agg(
        F.count(F.lit(1)).alias("v")
    )
    priors = train.groupBy("lang").agg(F.count(F.lit(1)).alias("d_l"))
    dtot = train.agg(F.count(F.lit(1)).alias("d"))
    classes = (
        priors.join(totals, "lang")
        .crossJoin(F.broadcast(vocab))
        .crossJoin(F.broadcast(dtot))
    )  # tiny: one row per class
    stok = test.select(
        "doc_id",
        F.explode_outer(F.split(F.lower("text"), " ")).alias("term"),
    ).filter(F.col("term").isNotNull())
    grid = (
        stok.crossJoin(F.broadcast(classes.select("lang")))
        .join(counts, ["lang", "term"], "left")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum(
                F.log((F.coalesce(F.col("c"), F.lit(0)) + 1).cast("double"))
            ).alias("_s"),
            # == the doc's token count: every (doc, lang) group carries
            # exactly the doc's term instances (left join keeps all)
            F.count(F.lit(1)).alias("n_tok"),
        )
    )
    return (
        grid.join(F.broadcast(classes), "lang")
        .select(
            "doc_id",
            "lang",
            F.col("n_tok").cast("bigint").alias("n_tok"),
            F.round(
                F.col("_s")
                + F.log(F.col("d_l").cast("double"))
                - F.log(F.col("d").cast("double"))
                - F.col("n_tok").cast("double")
                * F.log((F.col("n_l") + F.col("v")).cast("double")),
                6,
            ).alias("score"),
        )
        .orderBy("doc_id", "lang")
    )


def qx75_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MANN-WHITNEY U rank-sum test (round-14 — the NONPARAMETRIC
    two-sample member of the statistics battery: qx57's Welch t is
    parametric, qx63's KS compares whole CDFs; the rank-sum U is the
    standard distribution-free location test, and integer quantities
    make it a heavy-TIES exercise): 'A'-returnflag vs 'R'-returnflag
    lineitem quantities.

    Exact-integer discipline (CLAUDE.md: scale the statistic instead
    of normalizing it): tied ranks use MIDRANKS, which are half-
    integers — so everything carries DOUBLED ranks: for a value with
    c ties after s smaller samples, m2 = 2·midrank = 2s + c + 1 is
    always an integer, Σc1·m2 = 2·R1 and U1×2 = 2R1 − n1(n1+1) stay
    BIGINT-exact, as does the tie-correction Σ(c³−c).  Only the final
    z-score divides — once, on the already-aggregated scalars, with
    the identical expression both engines + round(6).

    Scale shape: one hash aggregate to per-value counts (50 distinct
    quantities), the exclusive prefix count via
    operators/ordered.py::bucketed_running_sum (bucket = q div 10 —
    monotone, so NO SinglePartition window anywhere), one keyless
    final combine (the allowlisted 1-row scalar shape)."""
    from ros_sql_spark.operators.ordered import bucketed_running_sum

    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag").isin("A", "R")
        & F.col("l_quantity").isNotNull()
    )
    per = (
        li.select(
            F.col("l_quantity").cast("bigint").alias("q"),
            (F.col("l_returnflag") == "A").cast("bigint").alias("g1"),
        )
        .groupBy("q")
        .agg(F.count(F.lit(1)).alias("c"), F.sum("g1").alias("c1"))
        .withColumn("_bk", F.expr("q div 10"))
    )
    run = bucketed_running_sum(
        per, bucket_col="_bk", order_cols=["q"], value_col="c",
        out="_cum",
    )
    m2 = 2 * F.col("_cum") - F.col("c") + 1  # doubled midrank
    agg = run.agg(
        F.sum("c1").cast("bigint").alias("n1"),
        F.sum("c").cast("bigint").alias("n"),
        F.sum(F.col("c1") * m2).cast("bigint").alias("r1_x2"),
        F.sum(
            F.col("c") * F.col("c") * F.col("c") - F.col("c")
        ).cast("bigint").alias("tie_t"),
    )
    n1, n, r1, t = F.col("n1"), F.col("n"), F.col("r1_x2"), F.col("tie_t")
    n2 = n - n1
    u1x2 = r1 - n1 * (n1 + 1)
    var_x4 = (
        n1.cast("double") * n2.cast("double") / 3.0
        * (
            (n + 1).cast("double")
            - t.cast("double") / (n.cast("double") * (n - 1).cast("double"))
        )
    )  # Var(2·U1) = 4·Var(U1)
    return agg.select(
        n1,
        n2.cast("bigint").alias("n2"),
        r1,
        u1x2.cast("bigint").alias("u1_x2"),
        t,
        F.round(
            (u1x2.cast("double") - n1.cast("double") * n2.cast("double"))
            / F.sqrt(var_x4),
            6,
        ).alias("z"),
    )


def qx76_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERVAL-UNION COVERAGE by sweep line (round-14 — the temporal
    MEASURE primitive the interval family lacked: q42 joins interval
    PAIRS, qx32 reconstructs SCD2 validity, q16 sessionizes by gaps;
    nothing computed the union length / peak concurrency of
    OVERLAPPING intervals — the classic 'total active time' /
    'max concurrent sessions' analytics pair): each event opens a
    half-open interval [ts, ts + dur) with a closed-form integer
    duration from its event_id; per user the query reports the
    interval count, the summed RAW lengths, the UNION-covered µs and
    the peak sweep depth.

    Exact sweep line in three partitioned steps: ±delta boundary rows
    (start +1, end −1) → groupBy (user, pos) collapses coincident
    boundaries (which also makes back-to-back [a,b)+[b,c) seamless —
    the half-open semantics fall out of summing deltas BEFORE scanning)
    → one window per user ordered by pos gives depth = running Σdelta,
    and covered = Σ (next_pos − pos) over segments with depth > 0.
    Everything integer µs (ns floored per timestamp, the q42 oracle-
    domain rule); windows all partition on user_id — no global sort,
    no SinglePartition (suite guard).

    Oracle: the identical sweep in SQL windows — plus the raw-length
    sum, which double-checks the boundary melt loses no interval."""
    # event_id also non-null DEFENSIVELY (qx57 lesson: a NULL boundary
    # position would sort NULLS FIRST in Spark windows, NULLS LAST in
    # DuckDB — filter the divergence out instead of relying on data)
    ev = _t(spark, sf_dir, "events").filter(
        F.col("ts_ns").isNotNull()
        & F.col("user_id").isNotNull()
        & F.col("event_id").isNotNull()
    )
    iv = ev.select(
        "user_id",
        tus("ts_ns").alias("s"),
        (
            tus("ts_ns")
            + ((F.col("event_id") % 590) + 10) * F.lit(1_000_000)
        ).alias("e"),
    )
    bounds = iv.select(
        "user_id", F.col("s").alias("pos"), F.lit(1).alias("d")
    ).unionByName(
        iv.select("user_id", F.col("e").alias("pos"), F.lit(-1).alias("d"))
    )
    seg = (
        bounds.groupBy("user_id", "pos")
        .agg(F.sum("d").alias("dd"))
    )
    w = Window.partitionBy("user_id").orderBy("pos")
    run = seg.select(
        "user_id",
        "pos",
        F.sum("dd").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("depth"),
        F.lead("pos").over(w).alias("nxt"),
    )
    cover = run.groupBy("user_id").agg(
        F.max("depth").cast("bigint").alias("peak_depth"),
        F.sum(
            F.when(
                (F.col("depth") > 0) & F.col("nxt").isNotNull(),
                F.col("nxt") - F.col("pos"),
            ).otherwise(F.lit(0))
        ).cast("bigint").alias("covered_us"),
    )
    raw = iv.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_intervals"),
        F.sum(F.col("e") - F.col("s")).cast("bigint").alias("raw_us"),
    )
    return raw.join(cover, "user_id").select(
        "user_id", "n_intervals", "raw_us", "covered_us", "peak_depth"
    ).orderBy("user_id")


def _logreg_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAINED logistic-regression scorer by IRLS (round-15 directive
    #8 — the second supervised train/apply member after qx74's Naive
    Bayes): predict P(lang = 'en') from quality features — scaled
    token count (exact: integer/100.0) and the q21 rounded stopword
    ratio — trained on the doc_id % 5 != 0 split, scored on the
    held-out split.  (punct ratio is identically 0 in the synthetic
    corpus — collinear with the intercept, singular normal matrix —
    so token count is the second regressor.)

    Oracle reproducibility (the qx61/qx74 discipline): a FIXED 4
    iterations of IRLS from β = 0, each iteration ONE moment
    aggregation (the 3×3 weighted normal matrix Σ w·xx' + gradient
    Σ (y−p)·x, w = p(1−p), p = σ(xβ)) followed by a Cramer 3×3 solve
    in fixed op order — the oracle replays the identical four
    iterations as chained CTEs with the same expression text, so the
    engines' βs agree to summation-order noise (~1e-12) and the
    ROUNDED score grid is stable at round-6 (drift ≪ the quantum;
    features are the bit-identical rounded q21 values, so feature
    parity is exact).  No convergence test, no argmax — the held-out
    (doc_id, y, score) grid is the output, qx74's
    no-float-decision-crosses-the-boundary rule.

    100 TB shape: training cost = 4 × (one scan + one tiny exchange
    to a 1-row moment frame) — the sufficient-statistics shape of
    qx61 iterated; the four 1-row collects are the documented bounded
    driver reads (qx43 class); scoring is a pure projection over the
    held-out scan.  No SinglePartition, no window, no join."""
    from ros_sql_spark.functions.text import stopword_ratio, tokens

    toks = tokens("text")
    feats = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("lang").isNotNull())
        .select(
            "doc_id",
            (F.col("lang") == "en").cast("bigint").alias("y"),
            (F.size(toks).cast("double") / F.lit(100.0)).alias("x1"),
            F.round(stopword_ratio(toks, "en"), 6).alias("x2"),
        )
        # round-15: the feature frame is consumed by FIVE separate
        # actions (four IRLS moment collects + the caller's scoring
        # action) — unpinned, each one re-ran the documents scan and
        # re-tokenized the corpus (the several-separate-actions rule).
        # Lazy pin: iteration 1's collect materializes the 4-column
        # numeric frame once; iterations 2-4 and the scoring pass read
        # it back.  Measured solo min-of-3 at sf0.1: qx77 1.31→0.92 s,
        # qx78 1.62→1.41 s; values bit-identical (the pinned frame IS
        # the same rounded feature grid).
        .localCheckpoint(eager=False)
    )
    tr = feats.filter(F.col("doc_id") % 5 != 0)

    def det3(a11, a12, a13, a21, a22, a23, a31, a32, a33):
        # textbook cofactor expansion — the qx61 fixed op order, and
        # the same formula the oracle's SQL writes out
        return (
            a11 * (a22 * a33 - a23 * a32)
            - a12 * (a21 * a33 - a23 * a31)
            + a13 * (a21 * a32 - a22 * a31)
        )

    b0 = b1 = b2 = 0.0
    for _ in range(4):
        z = F.lit(b0) + F.lit(b1) * F.col("x1") + F.lit(b2) * F.col("x2")
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
        w = p * (F.lit(1.0) - p)
        r = F.col("y").cast("double") - p
        x1, x2 = F.col("x1"), F.col("x2")
        m = tr.agg(
            F.sum(w).alias("sw"),
            F.sum(w * x1).alias("swx1"),
            F.sum(w * x2).alias("swx2"),
            F.sum(w * x1 * x1).alias("swx11"),
            F.sum(w * x1 * x2).alias("swx12"),
            F.sum(w * x2 * x2).alias("swx22"),
            F.sum(r).alias("sr"),
            F.sum(r * x1).alias("srx1"),
            F.sum(r * x2).alias("srx2"),
        ).collect()[0]  # bounded: ONE row of nine doubles per iteration
        det = det3(
            m["sw"], m["swx1"], m["swx2"],
            m["swx1"], m["swx11"], m["swx12"],
            m["swx2"], m["swx12"], m["swx22"],
        )
        d0 = det3(
            m["sr"], m["swx1"], m["swx2"],
            m["srx1"], m["swx11"], m["swx12"],
            m["srx2"], m["swx12"], m["swx22"],
        )
        d1 = det3(
            m["sw"], m["sr"], m["swx2"],
            m["swx1"], m["srx1"], m["swx12"],
            m["swx2"], m["srx2"], m["swx22"],
        )
        d2 = det3(
            m["sw"], m["swx1"], m["sr"],
            m["swx1"], m["swx11"], m["srx1"],
            m["swx2"], m["swx12"], m["srx2"],
        )
        b0 = b0 + d0 / det
        b1 = b1 + d1 / det
        b2 = b2 + d2 / det

    zs = F.lit(b0) + F.lit(b1) * F.col("x1") + F.lit(b2) * F.col("x2")
    return feats.filter(F.col("doc_id") % 5 == 0).select(
        "doc_id",
        "y",
        "x1",
        "x2",
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-zs)), 6).alias("score"),
    )


def qx78_model_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC AUC of the qx77 classifier on its held-out split
    (round-15 — the model-EVALUATION member: training without a
    measured quality number is half a pipeline).  Midrank/trapezoid
    AUC via the Mann-Whitney identity, kept EXACT-INTEGER (the qx75
    discipline): group the held-out rows by their ROUNDED score
    (bit-identical across engines — qx77's parity), and with
    n1(s)/n0(s) the positive/negative counts at score s and
    N0≤(s) the running negative count through s,

        2·U = Σ_s n1(s) · (2·N0≤(s) − n0(s))

    counts every (pos, neg) pair twice: 2 per strictly-lower negative,
    1 per tied negative — the ½-for-ties convention with no float
    until the single final division.  ``u2`` is the exact integer
    cross-checked by the driver hash; auc = u2 / (2·n1·n0), round(6).

    100 TB shape: the prefix rides operators/ordered.py::
    bucketed_running_sum over an affine score bin (floor(score·20) —
    the monotone bucket lever, no SinglePartition window anywhere);
    everything else is the qx77 training cost plus two tiny
    aggregates."""
    from ros_sql_spark.operators.ordered import bucketed_running_sum

    sc = _logreg_scores(spark, sf_dir)
    per = (
        sc.groupBy("score")
        .agg(
            F.sum("y").alias("n1s"),
            F.sum(F.lit(1) - F.col("y")).alias("n0s"),
        )
        .withColumn(
            # coalesce makes the bucket provably NON-NULL, so the
            # join inside bucketed_running_sum infers no isnotnull —
            # an inferred null-filter on f(group key) pushes through
            # the aggregate and re-evaluates the whole score pipeline
            # per input row (the suite's Filter/size() guard caught
            # the bare version)
            "_bk",
            F.coalesce(
                F.floor(F.col("score") * F.lit(20.0)).cast("int"),
                F.lit(0),
            ),
        )
    )
    cum = bucketed_running_sum(
        per, bucket_col="_bk", order_cols=["score"], value_col="n0s",
        out="_c0",
    )
    term = F.col("n1s") * (
        F.lit(2) * F.col("_c0") - F.col("n0s")
    )
    return cum.agg(
        F.sum("n1s").cast("bigint").alias("n_pos"),
        F.sum("n0s").cast("bigint").alias("n_neg"),
        F.sum(term).cast("bigint").alias("u2"),
        F.round(
            F.sum(term).cast("double")
            / (
                F.lit(2.0)
                * F.sum("n1s").cast("double")
                * F.sum("n0s").cast("double")
            ),
            6,
        ).alias("auc"),
    )


def qx77_logreg_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained-scorer grid (see :func:`_logreg_scores` for the
    full IRLS/parity story) in driver shape: deterministic order."""
    return _logreg_scores(spark, sf_dir).orderBy("doc_id")


QUERIES = {
    "q01_scan_project": q01_scan_project,
    "q02_time_split": q02_time_split,
    "q03_time_range": q03_time_range,
    "q04_ordered_replay": q04_ordered_replay,
    "q05_topic_partition": q05_topic_partition,
    "q06_array_shred": q06_array_shred,
    "q07_child_reassemble": q07_child_reassemble,
    "q08_fk_join_chain": q08_fk_join_chain,
    "q09_blob_fidelity": q09_blob_fidelity,
    "q10_pivot": q10_pivot,
    "q11_pricing_summary": q11_pricing_summary,
    "q12_approx_distinct": q12_approx_distinct,
    "q13_grouping_sets": q13_grouping_sets,
    "q14_rank_stats": q14_rank_stats,
    "q15_dup_components": q15_dup_components,
    "q16_sessionize": q16_sessionize,
    "q17_topk": q17_topk,
    "q18_except": q18_except,
    "q19_semijoin": q19_semijoin,
    "q20_decontaminate": q20_decontaminate,
    "q21_quality_filter": q21_quality_filter,
    "q22_train_split": q22_train_split,
    "q23_pack_sequences": q23_pack_sequences,
    "q24_chunk_documents": q24_chunk_documents,
    "q25_dedup_exact": q25_dedup_exact,
    "q26_dedup_minhash": q26_dedup_minhash,
    "q27_knn_cosine": q27_knn_cosine,
    "q28_stratified_sample": q28_stratified_sample,
    "q29_quantize_embeddings": q29_quantize_embeddings,
    "q30_multimodal_join": q30_multimodal_join,
    "q31_dedup_simhash": q31_dedup_simhash,
    "q32_ngram_jaccard": q32_ngram_jaccard,
    "q33_keep_best": q33_keep_best,
    "q34_funnel": q34_funnel,
    "q35_lang_id": q35_lang_id,
    "q36_tfidf_topk": q36_tfidf_topk,
    "q37_token_count_bpe": q37_token_count_bpe,
    "q38_fingerprint": q38_fingerprint,
    "q39_multimodal_features": q39_multimodal_features,
    "q40_ann_lsh": q40_ann_lsh,
    "q41_asof_join": q41_asof_join,
    "q42_interval_join": q42_interval_join,
    "q43_correlated_subquery": q43_correlated_subquery,
    "q44_percentiles": q44_percentiles,
    "q45_approx_percentile": q45_approx_percentile,
    "q46_json_map_explode": q46_json_map_explode,
    "q47_window_frames": q47_window_frames,
    "q48_skew_salted_agg": q48_skew_salted_agg,
    "q49_ordered_agg": q49_ordered_agg,
    "q50_latest_state": q50_latest_state,
    "q51_json_extract": q51_json_extract,
    "q52_window_rank": q52_window_rank,
    "q53_grouping_id": q53_grouping_id,
    "q54_distinct_agg": q54_distinct_agg,
    "q55_rollup": q55_rollup,
    "q56_window_lag": q56_window_lag,
    "q57_token_topk": q57_token_topk,
    "q58_label_centroids": q58_label_centroids,
    "q59_date_trunc": q59_date_trunc,
    "q60_union_all": q60_union_all,
    "q61_text_stats": q61_text_stats,
    "q62_redact": q62_redact,
    "q63_repetition": q63_repetition,
    "q64_range_frame": q64_range_frame,
    "q65_intersect": q65_intersect,
    "q66_lang_matrix": q66_lang_matrix,
    "q67_ntile_quartiles": q67_ntile_quartiles,
    "q68_cosine_dedup_pairs": q68_cosine_dedup_pairs,
    "q69_antijoin": q69_antijoin,
    "q70_ann_topk": q70_ann_topk,
    "q71_quality_score": q71_quality_score,
    "q72_moment_stats": q72_moment_stats,
    "q73_embedding_norm": q73_embedding_norm,
    "q74_cube": q74_cube,
    "q75_string_funcs": q75_string_funcs,
    "q76_null_logic": q76_null_logic,
    "q77_unpivot": q77_unpivot,
    "q78_ann_ivf": q78_ann_ivf,
    "q79_having": q79_having,
    "q80_histogram": q80_histogram,
    "q81_conditional_agg": q81_conditional_agg,
    "q82_weighted_sample": q82_weighted_sample,
    "q83_token_budget_mix": q83_token_budget_mix,
    "q84_pq_ann": q84_pq_ann,
    "q85_boilerplate": q85_boilerplate,
    "q86_full_outer": q86_full_outer,
    "q87_hopping_window": q87_hopping_window,
    "q88_zscore_outliers": q88_zscore_outliers,
    "q89_edit_distance": q89_edit_distance,
    "q90_bloom_decontaminate": q90_bloom_decontaminate,
    "q91_gap_fill": q91_gap_fill,
    "q92_cohort_retention": q92_cohort_retention,
    "q93_word_entropy": q93_word_entropy,
    "q94_seq_pattern": q94_seq_pattern,
    "q95_containment": q95_containment,
    "q96_first_touch": q96_first_touch,
    "q97_extract_entities": q97_extract_entities,
    "q98_skew_split_join": q98_skew_split_join,
    "q99_corpus_report": q99_corpus_report,
    # qx-series: queries beyond the first hundred.  The prefix is load-
    # bearing: "q100" would sort lexically between q10 and q11 and
    # displace q49/q50 from the driver's first-50 correctness window,
    # while "qx.." sorts after every qNN name (x > 9), keeping the
    # driver window exactly q01-q50.
    "qx00_kmv_overlap": qx00_kmv_overlap,
    "qx01_rolling_distinct": qx01_rolling_distinct,
    "qx02_setsim_join": qx02_setsim_join,
    "qx03_countmin_freq": qx03_countmin_freq,
    "qx04_winsorized_stats": qx04_winsorized_stats,
    "qx05_quantile_sketch": qx05_quantile_sketch,
    "qx06_curate_report": qx06_curate_report,
    "qx07_setsim_incremental": qx07_setsim_incremental,
    "qx08_unigram_logprob": qx08_unigram_logprob,
    "qx09_bpe_tokenize": qx09_bpe_tokenize,
    "qx10_components_incremental": qx10_components_incremental,
    "qx11_shard_assignment": qx11_shard_assignment,
    "qx12_epoch_mixture": qx12_epoch_mixture,
    "qx13_shipping_priority": qx13_shipping_priority,
    "qx14_local_supplier_volume": qx14_local_supplier_volume,
    "qx15_returned_items": qx15_returned_items,
    "qx16_volume_shipping": qx16_volume_shipping,
    "qx17_small_quantity_revenue": qx17_small_quantity_revenue,
    "qx18_lone_returned_supplier": qx18_lone_returned_supplier,
    "qx19_market_share": qx19_market_share,
    "qx20_large_volume_orders": qx20_large_volume_orders,
    "qx21_inactive_high_balance": qx21_inactive_high_balance,
    "qx22_min_cost_supplier": qx22_min_cost_supplier,
    "qx23_disjunctive_join": qx23_disjunctive_join,
    "qx24_concentrated_pairs": qx24_concentrated_pairs,
    "qx25_profit_tree": qx25_profit_tree,
    "qx26_curate_full": qx26_curate_full,
    "qx27_editdist_pairs": qx27_editdist_pairs,
    "qx28_bm25_topk": qx28_bm25_topk,
    "qx29_pagerank": qx29_pagerank,
    "qx30_interpolate": qx30_interpolate,
    "qx31_pmi_matrix": qx31_pmi_matrix,
    "qx32_scd2_intervals": qx32_scd2_intervals,
    "qx33_triangle_count": qx33_triangle_count,
    "qx34_markov_transitions": qx34_markov_transitions,
    "qx35_rolling_slope": qx35_rolling_slope,
    "qx36_revenue_growth": qx36_revenue_growth,
    "qx37_time_to_convert": qx37_time_to_convert,
    "qx38_group_weighted_sample": qx38_group_weighted_sample,
    "qx39_bigram_logprob": qx39_bigram_logprob,
    "qx40_mad_outliers": qx40_mad_outliers,
    "qx41_heavy_hitters": qx41_heavy_hitters,
    "qx42_rank_over_rollup": qx42_rank_over_rollup,
    "qx43_channel_intersect": qx43_channel_intersect,
    "qx44_shared_pipeline_selfjoin": qx44_shared_pipeline_selfjoin,
    "qx45_ewma_smooth": qx45_ewma_smooth,
    "qx46_bitmask_rollup": qx46_bitmask_rollup,
    "qx47_seq_listagg": qx47_seq_listagg,
    "qx48_bfs_reach": qx48_bfs_reach,
    "qx49_division": qx49_division,
    "qx50_chisq_independence": qx50_chisq_independence,
    "qx51_twap": qx51_twap,
    "qx52_column_profile": qx52_column_profile,
    "qx53_data_quality": qx53_data_quality,
    "qx54_cumulative_crossover": qx54_cumulative_crossover,
    "qx55_skyline": qx55_skyline,
    "qx56_assoc_rules": qx56_assoc_rules,
    "qx57_welch_ttest": qx57_welch_ttest,
    "qx58_seasonal_decompose": qx58_seasonal_decompose,
    "qx59_sorted_neighborhood": qx59_sorted_neighborhood,
    "qx60_gini_concentration": qx60_gini_concentration,
    "qx61_ols_regression": qx61_ols_regression,
    "qx62_changepoint": qx62_changepoint,
    "qx63_ks_test": qx63_ks_test,
    "qx64_weighted_median": qx64_weighted_median,
    "qx65_quantile_normalize": qx65_quantile_normalize,
    "qx66_audio_stats": qx66_audio_stats,
    "qx67_video_stats": qx67_video_stats,
    "qx68_spatial_radius_join": qx68_spatial_radius_join,
    "qx69_kaplan_meier": qx69_kaplan_meier,
    "qx70_dbscan": qx70_dbscan,
    "qx71_image_stats": qx71_image_stats,
    "qx72_spatial_knn_join": qx72_spatial_knn_join,
    "qx73_spatial_bbox_join": qx73_spatial_bbox_join,
    "qx74_naive_bayes": qx74_naive_bayes,
    "qx75_mann_whitney": qx75_mann_whitney,
    "qx76_interval_coverage": qx76_interval_coverage,
    "qx77_logreg_quality": qx77_logreg_quality,
    "qx78_model_auc": qx78_model_auc,
}
