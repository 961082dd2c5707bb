"""Deduplication operators for LLM-scale corpora.

The reference (strawlab/ros_sql) has no dedup — these are the
training-data-pipeline extensions the engine adds (SURVEY.md §2.3
q25/q26; driver north star).

Design for 100 TB:
- Everything is built-in Spark SQL expressions (xxhash64, higher-order
  array functions) — JVM execution, zero Python in the hot path.
- Signature computation is SHUFFLE-FREE: each doc's 64-dim MinHash is a
  single aggregate fold over the shingle-hash array (one projection, no
  explode, no groupBy) — embarrassingly parallel per partition, so it
  scales linearly with executors.
- Duplicate shingles are NOT deduplicated first: min() is insensitive to
  multiplicity, so the distinct-shuffle would be pure waste.
- Tokens are materialized as a column before windowing; inlining the
  split inside the shingle lambda makes Spark re-evaluate it per
  element_at — O(tokens²) per document (measured 17s → <1s at sf0.1).
- LSH banding turns the quadratic all-pairs problem into an equi-join on
  (band, band_hash); hot buckets (boilerplate) are the classic skew case,
  handled by AQE skew-join splitting plus the ``max_bucket_size`` guard.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Observation

__all__ = [
    "exact_dedup",
    "exact_dedup_incremental",
    "exact_digests",
    "tokenize",
    "token_shingles",
    "shingle_hashes",
    "minhash_signatures",
    "minhash_bands",
    "minhash_bands_md5",
    "minhash_pairs",
    "minhash_index",
    "minhash_pairs_incremental",
    "connected_components",
    "connected_components_star",
    "connected_components_incremental",
    "connected_components_incremental_delta",
    "ngram_jaccard_pairs",
    "edit_distance_pairs",
    "setsim_join",
    "setsim_index",
    "setsim_join_incremental",
    "remove_boilerplate",
    "remove_duplicate_spans",
]

DEFAULT_NUM_HASHES = 64
DEFAULT_BANDS = 16  # 16 bands × 4 rows: s-curve threshold ≈ (1/16)^(1/4) ≈ 0.5


def exact_dedup(df: DataFrame, id_col: str, content_col: str) -> DataFrame:
    """Keep the lowest-id row per exact content hash (q25 semantics).

    One shuffle on a 128-bit content digest; grouping on the digest (not
    the content) keeps shuffle rows narrow at scale.
    """
    h = F.md5(F.col(content_col).cast("binary"))
    return (
        df.groupBy(h.alias("content_hash"))
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )


def exact_dedup_incremental(
    new_docs: DataFrame,
    base_digests: DataFrame,
    id_col: str = "doc_id",
    content_col: str = "text",
) -> DataFrame:
    """Survivor ids of an ingest increment against a stored digest set:
    dedup the increment internally (lowest id per digest), then drop
    anything whose digest already exists in the corpus.

    ``base_digests``: one ``content_hash`` column — the stored index
    (:func:`exact_digests`; persist it once, e.g. in a snapshot table,
    and append each ingest's surviving digests).  The anti-join probes
    on the 128-bit digest only — the corpus content never moves, the
    per-ingest cost is one narrow shuffle of the increment plus the
    digest join.  Completes the incremental-ingest pair with
    :func:`minhash_pairs_incremental` (exact twin / near-dup twin).
    """
    h = F.md5(F.col(content_col).cast("binary"))
    fresh = (
        new_docs.select(F.col(id_col), h.alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias(id_col))
    )
    # eqNullSafe, NOT an equi-anti-join: md5(NULL) is NULL, groupBy
    # already treats the NULL digest as one group, and a null-unsafe
    # anti-join would re-admit a NULL-content doc on EVERY batch even
    # though the stored digest set holds the NULL row (round-8 review;
    # batch exact_dedup over the union groups them correctly).
    probe = base_digests.select(F.col("content_hash").alias("_bh"))
    return fresh.join(
        probe, F.col("content_hash").eqNullSafe(F.col("_bh")), "left_anti"
    ).select(id_col)


def exact_digests(
    df: DataFrame, content_col: str = "text"
) -> DataFrame:
    """The storable exact-dedup index: distinct 128-bit content digests
    (one narrow column; append each ingest's new digests to keep the
    index current)."""
    return df.select(
        F.md5(F.col(content_col).cast("binary")).alias("content_hash")
    ).distinct()


def tokenize(text_col: str | Column) -> Column:
    """Lowercased whitespace tokens."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.split(F.lower(c), " ")


def token_shingles(tokens_col: str | Column, k: int = 3) -> Column:
    """k-token shingles from a MATERIALIZED tokens array column.

    Pass a column *reference* (not an inline split expression): lambda
    bodies re-evaluate captured expressions per element, which turns an
    inlined tokenizer into O(tokens²) work per document.

    Documents shorter than k tokens contribute their joined text as a
    single shingle so they still participate in dedup.
    """
    toks = F.col(tokens_col) if isinstance(tokens_col, str) else tokens_col
    n = F.size(toks)
    windowed = F.transform(
        F.sequence(F.lit(0), n - F.lit(k)),
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, (i + F.lit(j + 1)).cast("int")) for j in range(k)]
        ),
    )
    return F.when(n >= k, windowed).otherwise(F.array(F.concat_ws(" ", toks)))


def _window_hashes(th_col: str, n_col: str, k: int) -> Column:
    """array<bigint>: one xxhash64 per k-window of a MATERIALIZED
    token-hash array column (1-based windows; element i covers tokens
    [i, i+k-1]).  The shared fold behind :func:`shingle_hashes` and
    :func:`remove_duplicate_spans` — fixed-width multi-arg xxhash64
    over pre-hashed tokens, no per-window strings.  Pass COLUMN NAMES,
    not inline expressions: lambda bodies re-evaluate captured
    expressions per element (the module's O(tokens²) trap)."""
    return F.transform(
        F.sequence(F.lit(1), F.col(n_col) - F.lit(k - 1)),
        lambda i: F.xxhash64(
            *[
                F.element_at(F.col(th_col), (i + F.lit(j)).cast("int"))
                for j in range(k)
            ]
        ),
    )


def shingle_hashes(
    df: DataFrame, id_col: str, text_col: str, k: int
) -> DataFrame:
    """(id, _hs: array<bigint>) — one 64-bit hash per k-token shingle.

    Hashes each TOKEN once (xxhash64, JVM-side) and combines the k
    token-hashes of each window with fixed-width multi-arg xxhash64 —
    no per-shingle string is ever built.  Measured 1.33x faster than
    concat_ws-built shingle strings + per-string xxhash64 at sf0.1
    (0.63s -> 0.47s for the full shingle-hash stage); the win is pure
    per-row CPU, exactly what dominates MinHash at 100 TB.  Consumers:
    the MinHash family (q26, rows-only — no oracle reproduces the
    hashes), the q63 repetition ratio (distinct-count of hashes equals
    distinct-count of strings modulo 2^-64 collisions), and q20
    decontamination (hash-membership equals string-membership at the
    same odds — production n-gram pipelines ship hashes for exactly
    this reason).  The string-shingle builder above stays for q32,
    whose DuckDB oracle rebuilds the identical shingle strings.

    Documents shorter than k tokens fold all their token hashes into a
    single shingle hash so they still participate in dedup.
    """
    from ros_sql_spark.functions.util import ensure_scan_parallelism

    df = ensure_scan_parallelism(df)
    # NULL text ≡ empty token list: without the coalesce, _hs becomes
    # [NULL] — the Arrow backend crashes converting the NaN-bearing
    # list to int64 while the JVM fold silently yields a seed-only
    # signature (xxhash64 skips NULL args): a crash on the default path
    # AND a backend divergence on the same input (round-8 review).
    # With it both backends agree on the [fold-of-nothing] signature.
    toks = df.select(
        F.col(id_col),
        F.coalesce(
            tokenize(text_col), F.array().cast("array<string>")
        ).alias("_toks"),
    )
    hashed = toks.select(
        F.col(id_col),
        F.transform("_toks", lambda t: F.xxhash64(t)).alias("_th"),
        F.size("_toks").alias("_n"),
    )
    windows = _window_hashes("_th", "_n", k)
    short = F.array(
        F.aggregate(
            F.col("_th"),
            F.lit(42).cast("bigint"),
            lambda acc, h: F.xxhash64(acc, h),
        )
    )
    return hashed.select(
        F.col(id_col),
        F.when(F.col("_n") >= k, windows).otherwise(short).alias("_hs"),
    )


# Spark XXH64 constants (org.apache.spark.sql.catalyst.expressions.XXH64).
_P1, _P2, _P3 = 0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9
_P4, _P5 = 0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5
_MASK = (1 << 64) - 1


def _xxh64_fmix_py(h: int) -> int:
    h ^= h >> 33
    h = (h * _P2) & _MASK
    h ^= h >> 29
    h = (h * _P3) & _MASK
    h ^= h >> 32
    return h


def _xxh64_int_py(value: int, seed: int) -> int:
    """Spark XXH64.hashInt (4-byte path) — used for the family index."""
    h = (seed + _P5 + 4) & _MASK
    h ^= ((value & 0xFFFFFFFF) * _P1) & _MASK
    h = ((h << 23 | h >> 41) & _MASK) * _P2 + _P3
    return _xxh64_fmix_py(h & _MASK)


def _family_seeds(num_hashes: int) -> "list[int]":
    """seed_i such that Spark's xxhash64(i, h) == XXH64.hashLong(h, seed_i).

    Spark folds multi-arg xxhash64 left-to-right starting from seed 42,
    hashing the INT dimension index through the 4-byte path — so the i-th
    family is fully determined by this precomputable per-dimension seed.
    """
    return [_xxh64_int_py(i, 42) for i in range(num_hashes)]


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = DEFAULT_NUM_HASHES,
    k: int = 3,
    use_arrow: bool = True,
) -> DataFrame:
    """(id, sig: array<bigint>) — one MinHash signature per document.

    Each shingle string is hashed ONCE (xxhash64, JVM-side); the i-th
    family value is xxhash64(i, h) over the fixed-width long and the
    signature element is its min over the doc's shingles.

    Two backends producing BIT-IDENTICAL signatures (asserted in
    tests/test_operators.py):

    - ``use_arrow=True`` (default): Arrow-batched pandas_udf that
      replicates Spark's XXH64 long path in vectorized numpy — one
      (shingles × dims) sweep per batch.  Spark higher-order lambdas are
      interpreted (never whole-stage-codegen'd), and the 64-wide
      per-shingle fold was the dominant q26 cost in round 1; this is the
      same measured trade that justified the numpy matmul in
      similarity.hyperplane_buckets (per-row CPU dominates at 100 TB).
    - ``use_arrow=False``: pure-JVM single left fold (F.aggregate) over
      the shingle-hash array.  Kept as the dependency-free reference;
      NOT "64 × array_min over shingles" — Catalyst's CollapseProject
      would re-inline the shingle pipeline per dimension (a measured 64×
      bug, 25s → <1s at sf0.1).

    Zero mandatory shuffles either way — a pure projection, linear in
    executors.
    """
    hs = shingle_hashes(df, id_col, text_col, k)
    if not use_arrow:
        long_max = F.lit(9223372036854775807).cast("bigint")
        dims = F.sequence(F.lit(0), F.lit(num_hashes - 1))  # constant-folded
        return hs.select(
            F.col(id_col),
            F.aggregate(
                F.col("_hs"),
                F.array_repeat(long_max, num_hashes),
                lambda acc, h: F.zip_with(
                    acc, dims, lambda a, i: F.least(a, F.xxhash64(i, h))
                ),
            ).alias("sig"),
        )

    from pyspark.sql.functions import pandas_udf

    seeds = np.array(_family_seeds(num_hashes), dtype=np.uint64)
    p1, p2 = np.uint64(_P1), np.uint64(_P2)
    p3, p4, p5 = np.uint64(_P3), np.uint64(_P4), np.uint64(_P5)

    @pandas_udf("array<long>")
    def _sigs(hs_col: pd.Series) -> pd.Series:
        arrs = [np.asarray(a, dtype=np.int64) for a in hs_col]
        lens = np.array([len(a) for a in arrs])
        if len(arrs) == 0:
            return pd.Series([], dtype=object)
        flat = (
            np.concatenate(arrs) if lens.sum() else np.array([], dtype=np.int64)
        ).view(np.uint64)
        starts = np.zeros(len(arrs), dtype=np.int64)
        np.cumsum(lens[:-1], out=starts[1:])
        out = np.full((len(arrs), num_hashes), np.int64(2**63 - 1), dtype=np.int64)
        nonempty = lens > 0
        with np.errstate(over="ignore"):
            # XXH64.hashLong(flat, seed_i), vectorized; one pass per dim
            # keeps peak memory at |flat| instead of |flat|×dims
            k1 = flat * p2
            k1 = (k1 << np.uint64(31)) | (k1 >> np.uint64(33))
            k1 *= p1
            for i in range(num_hashes):
                h = np.uint64(int(seeds[i]) + _P5 + 8 & _MASK) ^ k1
                h = ((h << np.uint64(27)) | (h >> np.uint64(37))) * p1 + p4
                h ^= h >> np.uint64(33)
                h *= p2
                h ^= h >> np.uint64(29)
                h *= p3
                h ^= h >> np.uint64(32)
                if len(flat):
                    mins = np.minimum.reduceat(
                        h.view(np.int64), np.minimum(starts, len(flat) - 1)
                    )
                    out[nonempty, i] = mins[nonempty]
        return pd.Series(list(out))

    return hs.select(F.col(id_col), _sigs("_hs").alias("sig"))


def minhash_bands(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    k: int = 3,
    use_arrow: bool = True,
) -> DataFrame:
    """(id, band, band_hash) — LSH bucket keys, ``bands`` rows per doc.

    Docs sharing (band, band_hash) are near-dup candidates.  Deterministic
    (xxhash64 is seed-fixed), so testable without an oracle.
    """
    sigs = minhash_signatures(df, id_col, text_col, num_hashes, k, use_arrow)
    return _band_table(sigs, id_col, num_hashes, bands)


_MINHASH_P = 2_147_483_647  # Mersenne prime 2^31 - 1


def _affine_constants(num_hashes: int) -> tuple[list[int], list[int]]:
    """Deterministic (a_i, b_i) for the md5-affine MinHash family,
    derived with the SAME md5-prefix arithmetic a SQL oracle can
    replicate: a_i = md5prefix15('a'||i) % (P-1) + 1 (never 0),
    b_i = md5prefix15('b'||i) % P."""
    import hashlib

    def pfx(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    a = [pfx(f"a{i}") % (_MINHASH_P - 1) + 1 for i in range(num_hashes)]
    b = [pfx(f"b{i}") % _MINHASH_P for i in range(num_hashes)]
    return a, b


def minhash_bands_md5(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    k: int = 3,
    use_arrow: bool = True,
) -> DataFrame:
    """(id, band, band_hash) — LSH bucket keys from an ORACLE-EXACT
    MinHash family (q26's declared backend).

    Same banding semantics as :func:`minhash_bands`, different hash
    family: the base shingle hash is the repo's md5-prefix idiom
    (60-bit hex prefix, reduced mod P = 2^31−1) and the ``num_hashes``
    family values are affine maps g_i(h) = (a_i·h + b_i) mod P with
    deterministic md5-derived constants — classic universal-hashing
    MinHash, every step expressible in portable SQL, so the DuckDB
    oracle rebuilds every band_hash BIT-FOR-BIT (the CLAUDE.md sketch
    parity trick, closing the suite's last in-window rows-only sketch).
    All products fit BIGINT (a_i, h < 2^31 ⇒ a_i·h < 2^62) — no
    wrap-around arithmetic an engine could disagree on.

    The xxhash64 + Arrow family (:func:`minhash_signatures`) remains
    the production path for the pair pipeline (minhash_pairs, the
    incremental index): one JVM hash per shingle beats one md5 + hex
    decode, and signatures there never need SQL reproduction.

    Backends (bit-identical, asserted in tests): the md5 base hash is
    always JVM (F.md5 + conv inside one transform — one hash per
    shingle); the 64-wide affine fold defaults to Arrow/numpy
    (``use_arrow=True``) because it is EXACTLY the high-compute-per-
    byte case of the CLAUDE.md Arrow rule — measured at sf0.1: Arrow
    1.2s vs interpreted JVM zip_with fold 3.1s.  ``use_arrow=False``
    keeps the dependency-free single-fold JVM shape.  Zero shuffles
    either way.  (Materializing the tokens projection before
    token_shingles was worth a further 3.5s on BOTH backends — the
    inline form re-split the text once per shingle window, the
    documented CollapseProject O(tokens²) hazard.)
    """
    a_consts, b_consts = _affine_constants(num_hashes)
    rows = num_hashes // bands
    p = F.lit(_MINHASH_P).cast("bigint")
    # materialize tokens FIRST: token_shingles' window lambda references
    # the tokens array per element, and an inline tokenize() would be
    # re-inlined into the lambda body by CollapseProject and re-split
    # the text once per shingle window — the documented O(tokens²)
    # hazard (multi-referencing the projection blocks the inlining).
    from ros_sql_spark.functions.util import ensure_scan_parallelism

    toked = ensure_scan_parallelism(df).select(
        F.col(id_col),
        # NULL text ≡ empty text (tokenizes to [''] like an empty
        # string both here and in the SQL oracle's string_split)
        tokenize(F.coalesce(F.col(text_col), F.lit(""))).alias("_toks"),
    )
    # token_shingles' expansion references _toks several times (size,
    # windows, sub-k fallback), so CollapseProject keeps the tokenize
    # projection separate on its own.
    shingled = toked.select(
        F.col(id_col), token_shingles("_toks", k).alias("_sh")
    )
    base = F.transform(
        F.col("_sh"),
        lambda s: F.conv(F.substring(F.md5(s.cast("binary")), 1, 15), 16, 10)
        .cast("bigint") % p,
    )
    df = shingled
    if use_arrow:
        from pyspark.sql.functions import pandas_udf

        a_np = np.array(a_consts, dtype=np.int64)
        b_np = np.array(b_consts, dtype=np.int64)
        p_int = _MINHASH_P

        @pandas_udf("array<long>")
        def _aff_sigs(hs_col: pd.Series) -> pd.Series:
            arrs = [np.asarray(a, dtype=np.int64) for a in hs_col]
            if not arrs:
                return pd.Series([], dtype=object)
            lens = np.array([len(a) for a in arrs])
            flat = (
                np.concatenate(arrs)
                if lens.sum()
                else np.array([], dtype=np.int64)
            )
            starts = np.zeros(len(arrs), dtype=np.int64)
            np.cumsum(lens[:-1], out=starts[1:])
            out = np.full((len(arrs), num_hashes), p_int, dtype=np.int64)
            nonempty = lens > 0
            ne_starts = starts[nonempty]
            for i in range(num_hashes):
                # h, a < 2^31 ⇒ a·h + b < 2^62 + 2^31: exact in int64
                v = (flat * a_np[i] + b_np[i]) % p_int
                if len(v):
                    out[nonempty, i] = np.minimum.reduceat(v, ne_starts)
            return pd.Series(list(out))

        sigs = df.select(
            F.col(id_col), _aff_sigs(base).alias("sig")
        )
    else:
        dims = F.sequence(F.lit(0), F.lit(num_hashes - 1))  # constant-folded
        a_arr = F.lit(a_consts)
        b_arr = F.lit(b_consts)
        sig = F.aggregate(
            base,
            F.array_repeat(p, num_hashes),
            lambda acc, h: F.zip_with(
                acc,
                dims,
                lambda ac, i: F.least(
                    ac,
                    (F.element_at(a_arr, (i + 1).cast("int")) * h
                     + F.element_at(b_arr, (i + 1).cast("int"))) % p,
                ),
            ),
        )
        sigs = df.select(F.col(id_col), sig.alias("sig"))
    band_cols = [
        F.struct(
            F.lit(b).cast("bigint").alias("band"),
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            ",",
                            *[
                                F.element_at("sig", b * rows + j + 1)
                                .cast("string")
                                for j in range(rows)
                            ],
                        ).cast("binary")
                    ),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("bigint").alias("band_hash"),
        )
        for b in range(bands)
    ]
    return sigs.select(
        id_col, F.explode(F.array(*band_cols)).alias("bb")
    ).select(
        id_col,
        F.col("bb.band").alias("band"),
        F.col("bb.band_hash").alias("band_hash"),
    )


def minhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    k: int = 3,
    threshold: float = 0.5,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Candidate near-duplicate pairs (id_a < id_b, jaccard_est).

    Pipeline: band buckets → within-bucket self-join (skew-guarded by
    dropping degenerate buckets larger than ``max_bucket_size``) →
    distinct pairs → signature-agreement estimate of Jaccard via
    zip_with/aggregate → threshold filter.
    """
    sigs = minhash_signatures(df, id_col, text_col, num_hashes, k).cache()
    b = _band_table(sigs, id_col, num_hashes, bands)
    bucket_sizes = b.groupBy("band", "band_hash").agg(F.count("*").alias("_bsz"))
    b = b.join(
        F.broadcast(bucket_sizes.filter(F.col("_bsz") > max_bucket_size)),
        ["band", "band_hash"],
        "left_anti",
    )
    left = b.select(F.col(id_col).alias("id_a"), "band", "band_hash")
    right = b.select(F.col(id_col).alias("id_b"), "band", "band_hash")
    cand = (
        left.join(right, ["band", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    sa = sigs.select(F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b"))
    matches = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    est = matches.cast("double") / F.lit(float(num_hashes))
    out = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", F.round(est, 6).alias("jaccard_est"))
        .filter(F.col("jaccard_est") >= threshold)
    )
    # cache-lifetime convention (same as lsh_knn): the signature table
    # must stay cached while the lazy result is consumed; callers that
    # fully materialize downstream (e.g. connected_components' eager
    # checkpoint) should unpersist via this handle.
    out._rosql_cached = sigs
    return out


def _band_table(sigs: DataFrame, id_col: str, num_hashes: int, bands: int) -> DataFrame:
    """(id, band, band_hash) from a signature table — the shared banding
    step of minhash_bands / minhash_pairs / the incremental probe."""
    rows = num_hashes // bands
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(
                *[F.element_at("sig", b * rows + j + 1) for j in range(rows)]
            ).alias("band_hash"),
        )
        for b in range(bands)
    ]
    return sigs.select(id_col, F.explode(F.array(*band_cols)).alias("bb")).select(
        id_col,
        F.col("bb.band").alias("band"),
        F.col("bb.band_hash").alias("band_hash"),
    )


def minhash_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    k: int = 3,
) -> tuple[DataFrame, DataFrame]:
    """The storable MinHash index of a corpus: ``(sigs, bands)`` frames —
    (id, sig array<bigint>) and (id, band, band_hash).

    Both are deterministic pure projections of the corpus (seed-fixed
    xxhash64), so they can be written once (parquet / a snapshot table)
    and served to every subsequent :func:`minhash_pairs_incremental`
    ingest — the 100 TB contract: the base corpus is hashed ONCE ever,
    not once per ingest batch.
    """
    sigs = minhash_signatures(df, id_col, text_col, num_hashes, k)
    return sigs, _band_table(sigs, id_col, num_hashes, bands)


def minhash_pairs_incremental(
    new_docs: DataFrame,
    base_index: tuple[DataFrame, DataFrame],
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    k: int = 3,
    threshold: float = 0.5,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Near-dup candidate pairs for an INGEST INCREMENT against an
    existing corpus: (new × base) ∪ (new × new), never base × base.

    This is the production dedup shape — each arriving batch probes the
    stored corpus index (:func:`minhash_index`, ids disjoint from the
    increment's) instead of re-pairing the whole corpus: the base-side
    cost per ingest is one bucket equi-join against precomputed bands,
    and candidate volume is proportional to the INCREMENT's bucket
    occupancy, not the corpus's.  Equivalence to the batch operator
    (``minhash_pairs(new ∪ base)`` minus base-internal pairs) is
    asserted in tests.

    Output matches ``minhash_pairs``: (id_a < id_b, jaccard_est ≥
    threshold); the skew guard drops degenerate buckets by COMBINED
    occupancy, mirroring what the batch operator would see.
    """
    base_sigs, base_bands = base_index
    new_sigs = minhash_signatures(
        new_docs, id_col, text_col, num_hashes, k
    ).cache()
    new_bands = _band_table(new_sigs, id_col, num_hashes, bands)

    nb = new_bands.withColumn("_new", F.lit(True))
    ab = nb.unionByName(
        base_bands.select(id_col, "band", "band_hash").withColumn(
            "_new", F.lit(False)
        )
    )
    # TOUCHED buckets only (round-8 review: the census and the
    # candidate join both ran over the FULL base band table — an
    # O(corpus) shuffle per ingest that contradicted this function's
    # own increment-cost contract).  Only buckets containing a NEW doc
    # can produce pairs, so semi-reducing by the increment's bucket
    # keys (broadcast — the keyset is increment-sized by contract)
    # changes nothing in the output while the base side's shuffle
    # shrinks to the touched rows.
    new_keys = nb.select("band", "band_hash").distinct()
    touched = ab.join(
        F.broadcast(new_keys), ["band", "band_hash"], "left_semi"
    )
    # skew guard on COMBINED bucket occupancy (what the batch op sees;
    # untouched buckets' occupancy is irrelevant — they yield no pair)
    sizes = touched.groupBy("band", "band_hash").agg(
        F.count("*").alias("_bsz")
    )
    hot = F.broadcast(sizes.filter(F.col("_bsz") > max_bucket_size))
    touched = touched.join(hot, ["band", "band_hash"], "left_anti")
    probe = nb.join(hot, ["band", "band_hash"], "left_anti")

    left = probe.select(F.col(id_col).alias("id_a"), "band", "band_hash")
    right = touched.select(
        F.col(id_col).alias("id_b"), "band", "band_hash", "_new"
    )
    cand = (
        left.join(right, ["band", "band_hash"])
        # new-new pairs arrive in both orders (keep a<b); new-base pairs
        # arrive once (keep both orders, canonicalize below); base-base
        # pairs never form — the left side is increment-only
        .filter((~F.col("_new")) | (F.col("id_a") < F.col("id_b")))
        .filter(F.col("id_a") != F.col("id_b"))
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
        )
        .distinct()
    )
    all_sigs = new_sigs.unionByName(base_sigs)
    sa = all_sigs.select(F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a"))
    sb = all_sigs.select(F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b"))
    matches = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    est = matches.cast("double") / F.lit(float(num_hashes))
    out = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", F.round(est, 6).alias("jaccard_est"))
        .filter(F.col("jaccard_est") >= threshold)
    )
    out._rosql_cached = new_sigs
    return out


def _smallgraph_labels(edges_uv: DataFrame) -> DataFrame:
    """(_n, _c) component labels of a SMALL edge set — one
    single-partition mapInPandas union-find task (union-by-min keeps
    root = component min id, so labels equal min-label propagation /
    star contraction exactly).  The shared small-graph finisher for
    every components operator: callers gate it on an
    Observation-carried edge count (≤ small_graph_edges), so the
    repartition(1) is COUNT-GATED, never data-sized (the plan guard's
    _BOUNDED_SINGLE_TASK allowance).  Duplicate edges, both-direction
    symmetric rows and self-loops are all harmless to union-find."""
    out_schema = "_n bigint, _c bigint"

    def _uf(batches):
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != x:
                parent[x], x = r, parent[x]
            return r

        rows = []
        for b in batches:
            rows.append(b)
        if rows:
            allb = pd.concat(rows, ignore_index=True)
            for u, v in zip(allb["u"].to_numpy(), allb["v"].to_numpy()):
                ru, rv = find(int(u)), find(int(v))
                if ru != rv:
                    # union-by-min keeps root = component min id
                    if ru < rv:
                        parent[rv] = ru
                    else:
                        parent[ru] = rv
            nodes = set(map(int, allb["u"])) | set(map(int, allb["v"]))
            yield pd.DataFrame(
                {"_n": sorted(nodes),
                 "_c": [find(n) for n in sorted(nodes)]}
            )

    return edges_uv.repartition(1).mapInPandas(_uf, out_schema)


def connected_components(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    id_col: str = "id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 25,
    small_graph_edges: int = 200_000,
) -> DataFrame:
    """(id, component) — component = MIN node id reachable from ``id``
    through ``edges`` (undirected).  The dedup endgame: candidate pairs
    (minhash_pairs / ngram_jaccard_pairs) become duplicate GROUPS, and
    "keep min id per component" yields the canonical-survivor policy of
    exact_dedup extended to near-duplicates.

    Min-label propagation: every node starts labeled with itself; each
    hop takes the min of its own and its neighbors' labels; converged
    when nothing changes.  Hops needed = graph diameter — near-dup
    graphs are unions of small dense clusters (diameter ~2-4), so this
    terminates in a handful of distributed joins.  Two hops are fused
    into each materialization ROUND (one plan, one localCheckpoint, one
    barrier): the total join work is unchanged but the number of
    synchronization points — checkpoint I/O, driver round trips, the
    cluster's stage barriers — halves, which is what dominates both the
    local floor and a 1000-executor iteration.  The driver only
    coordinates the loop; the convergence check RIDES the checkpoint
    job via ``Observation`` (CollectMetrics fills during the eager
    materialization) so each round is ONE job, with per-round lineage
    truncated so plans don't grow with iterations.  For long-chain /
    billion-node general graphs use :func:`connected_components_star`
    (same interface, O(log) double-rounds on ANY topology; a
    diameter-60 chain that exhausts this loop's budget converges there
    in a handful — tested); the propagation loop is the right tool for
    the short-diameter dup topology.

    ``nodes``: optionally the full node universe (isolated docs keep
    their own id as component; without it only endpoint nodes appear).
    If given, it must COVER the edge endpoints whose connectivity
    matters — labels only propagate through listed nodes, on BOTH
    paths: the loop by construction, the small-graph finisher via an
    explicit listed-listed edge restriction (round-15 ADVICE — the
    two previously diverged silently on non-covering universes).

    SMALL-GRAPH fast path (round-14): the symmetrized edge count rides
    the pinning job's Observation for free, and a graph at or under
    ``small_graph_edges`` skips the loop entirely for ONE union-find
    task (:func:`_smallgraph_labels`) — identical labels, and the
    2-4 materialization rounds a dup graph needs become one job
    (measured, quiet solo min-of-3 at sf0.1: qx10 incremental
    3.47 → 1.8–2.1 s, q15 1.56 → 0.9–1.4 s across two quiet windows;
    qx26 5.64 → ~5.1 — its cost is the shingle stages, not the
    components loop).
    """
    sym = edges.select(
        F.col(src_col).cast("bigint").alias("a"),
        F.col(dst_col).cast("bigint").alias("b"),
    )
    # Materialize the (symmetrized) edge list once.  Locally this is
    # near-neutral (measured: shuffle-stage reuse already shields the
    # per-round re-execution of the upstream candidate pipeline), but
    # on a cluster shuffle files can be evicted/lost mid-loop and the
    # checkpoint pins the edges + truncates their lineage — same
    # MLlib-style discipline as the per-round label checkpoint.
    # (Measured, twice: neither coalescing the checkpoint to 1
    # partition nor trimming map-side task count moves the ~0.3s/round
    # local floor — it is per-job driver/AQE overhead, so the only real
    # lever is FEWER rounds: the two-hop fusion below, and the
    # small-graph union-find fast path above it.)
    ob_sym = Observation()
    sym = (
        sym.unionByName(
            sym.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        .observe(ob_sym, F.count(F.lit(1)).alias("n_sym"))
        .localCheckpoint(eager=True)
    )
    n_sym = ob_sym.get["n_sym"] or 0
    nodes_supplied = nodes is not None
    if nodes is None:
        nodes = sym.select(F.col("a").alias(id_col)).distinct()
    if n_sym <= 2 * small_graph_edges:  # sym carries each edge twice
        uv = sym.select(F.col("a").alias("u"), F.col("b").alias("v"))
        if nodes_supplied and n_sym > 0:
            # round-15 ADVICE: the loop relays labels only through
            # LISTED nodes, so for a non-covering universe the finisher
            # must not union through unlisted endpoints — restrict to
            # listed-listed edges before union-find (identical labels
            # for covering universes, the documented contract every
            # in-repo caller satisfies).  sym is count-gated small:
            # broadcast its endpoint set to semi-reduce nodes, then
            # broadcast the touched listed ids back over both edge
            # sides — two broadcast joins, never a corpus shuffle
            # (the incremental-probe discipline).
            ep = sym.select(F.col("a").alias("_e")).distinct()
            listed = nodes.select(
                F.col(id_col).cast("bigint").alias("_t")
            ).join(F.broadcast(ep), F.col("_t") == F.col("_e"),
                   "left_semi")
            uv = uv.join(
                F.broadcast(listed), F.col("u") == F.col("_t"),
                "left_semi",
            ).join(
                F.broadcast(listed), F.col("v") == F.col("_t"),
                "left_semi",
            )
        # PINNED like the loop path's checkpointed labels frame:
        # components output is consumed across several separate
        # actions by the dedup/curate pipelines, and an un-pinned
        # finisher re-ran union-find per consumer (measured: qx26
        # regressed until this eager checkpoint landed)
        lbl = _smallgraph_labels(uv).localCheckpoint(eager=True)
        # SHUFFLE_HASH on the label side (round-16, the _hop precedent
        # below): the finisher's label frame is gate-bounded (≤ the
        # small-graph edge budget) while nodes is corpus-sized — SMJ
        # sorted the corpus side just to attach labels; hashing the
        # bounded side per partition skips that sort.  With the
        # pipeline's near-dup-anti SHJ swap: qx26 strict interleaved
        # A/B (stash-toggled, one session, construction timed) means
        # 4.43 → 4.13 s, 5/6 pairs faster, mins a wash — the sort
        # removal is the scale term (r15's 500k-edge _hop A/B), the
        # local win is band-small.  Labels identical.
        return nodes.select(
            F.col(id_col).cast("bigint").alias(id_col)
        ).join(
            lbl.hint("shuffle_hash"), F.col(id_col) == F.col("_n"), "left"
        ).select(
            id_col, F.coalesce("_c", F.col(id_col)).alias("component")
        )
    # No initial checkpoint for labels: its lineage is just the nodes
    # scan (or a distinct over the checkpointed edges), and round 1's
    # output checkpoint truncates it anyway — one fewer setup job.
    labels = nodes.select(
        F.col(id_col).cast("bigint").alias("id"),
        F.col(id_col).cast("bigint").alias("comp"),
    )

    def _hop(lbl: DataFrame) -> DataFrame:
        # SHUFFLE_HASH on the node-sized sides (round-15, the graph.py
        # pagerank/qx48 precedent, guide §3.1): sort-merge re-sorted
        # the edge-sized sym per hop; hashing the |V|-sized label frame
        # per partition skips those sorts.  This path only runs above
        # the small-graph gate, so it was A/B'd on a synthetic 500k-edge
        # graph (100k 5-rings): min-of-3 6.19 → 5.86 s, labels
        # identical — a smaller margin than the declared graph queries
        # because the loop floor is per-round driver overhead, but the
        # per-hop sort removal is what scales.
        nbr_min = (
            sym.join(lbl.hint("shuffle_hash"), sym.b == lbl.id)
            .groupBy("a")
            .agg(F.min("comp").alias("_nbr"))
        )
        # `_prev` (the round's starting label) rides through each hop so
        # the convergence compare needs no extra self-join at the end.
        return lbl.join(
            nbr_min.hint("shuffle_hash"), lbl.id == nbr_min.a, "left"
        ).select(
            "id",
            F.least("comp", F.coalesce("_nbr", "comp")).alias("comp"),
            "_prev",
        )

    changed = 0
    hops_done = 0
    while hops_done < max_iter:
        k = min(2, max_iter - hops_done)
        cur = labels.select("id", "comp", F.col("comp").alias("_prev"))
        for _ in range(k):
            cur = _hop(cur)
        hops_done += k
        ob = Observation()
        new = cur.observe(
            ob,
            F.sum((F.col("comp") < F.col("_prev")).cast("long")).alias(
                "n_changed"
            ),
        ).localCheckpoint(eager=True)
        changed = ob.get["n_changed"] or 0
        labels = new.select("id", "comp")
        if changed == 0:
            break
    if changed != 0:
        # Exhausting max_iter means labels are still propagating: the
        # graph's diameter exceeds the round budget and the returned
        # components would be silently WRONG (over-split).  Dup graphs
        # have diameter ~2-4, so hitting this signals a pathological
        # input (long chains) — fail loudly, don't emit bad groups.
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} hops "
            "(labels still changing). The graph diameter exceeds "
            "max_iter; raise max_iter or use large-star/small-star for "
            "long-chain graphs."
        )
    return labels.select(F.col("id").alias(id_col), F.col("comp").alias("component"))


def connected_components_star(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    id_col: str = "id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 40,
    small_graph_edges: int = 200_000,
) -> DataFrame:
    """(id, component) by LARGE-STAR / SMALL-STAR alternation (Kiveris
    et al., "Connected Components in MapReduce and Beyond", public
    literature) — the same contract as :func:`connected_components`,
    converging in O(log²) rounds on ANY topology instead of
    O(diameter): the upgrade the propagation loop's docstring names for
    long-chain graphs, where min-label propagation needs a round per
    hop.

    Each star computes the per-node neighborhood minimum m(u) with one
    groupBy and re-points edges at it with one join — no task ever
    buffers a node's neighbor list (a star-contraction graph develops
    hot roots BY DESIGN: every node re-points at the component min, so
    the root's degree approaches the component size; the groupBy
    streams through it with a constant-size agg buffer and the join
    streams the probe side), so the loop is scale-robust on unbounded
    graphs.

    TWO double-rounds are fused per eager localCheckpoint with a LAZY
    checkpoint between them (the materialization count, not task work,
    is the local cost — see the loop comment); one Observation-carried
    edge count per materialization detects the fixed point (edge
    multiset stable under both stars ⇒ every tree is a star rooted at
    its component min).

    Once the (possibly star-contracted) canonical edge count is ≤
    ``small_graph_edges``, the remainder is solved in ONE
    mapInPandas union-find task — the semi-external CC idiom: contract
    distributed, finish the small remainder centrally.  Handoff at any
    materialization boundary is safe because neither star ever drops a
    node whose component still has edges (case analysis per star side:
    every node with ≥1 edge keeps ≥1 incident edge — as child when it
    has a smaller neighbor, as the m-target otherwise), so union-find
    over the current edge set labels every non-isolated node and the
    universe coalesce labels the rest.

    large-star(u): every STRICTLY LARGER neighbor of u re-points at
    m(u) = min(Γ(u) ∪ {u}); preserves connectivity and strictly
    decreases large edges' partner sums.  small-star(u): every
    neighbor ≤ u (and u itself) points at m(u) computed over the ≤
    side.  Alternating reaches the star fixed point; labels then read
    off the final (child → root) edges.
    """
    raw = edges.select(
        F.col(src_col).cast("bigint").alias("u"),
        F.col(dst_col).cast("bigint").alias("v"),
    )
    # universe from the UNFILTERED endpoints: a node appearing only in
    # self-loop edges must still label itself — connected_components
    # (the contract this function shares) keeps it, and dropping the
    # self-loops first silently lost such rows (round-8 review)
    universe = raw.select(F.col("u").alias("_n")).unionByName(
        raw.select(F.col("v").alias("_n"))
    )
    e0 = raw.filter(F.col("u") != F.col("v"))
    if nodes is not None:
        universe = universe.unionByName(
            nodes.select(F.col(id_col).cast("bigint").alias("_n"))
        )
    universe = universe.distinct().localCheckpoint(eager=True)
    # canonical undirected form, deduped — (min, max) per pair; the
    # edge count rides the checkpoint so round-N's stability compare
    # never needs a separate count() job
    ob0 = Observation()
    cur = (
        e0.select(
            F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
        )
        .distinct()
        .observe(ob0, F.count(F.lit(1)).alias("n_edges"))
        .localCheckpoint(eager=True)
    )
    n_cur = ob0.get["n_edges"] or 0

    def _star(
        edges_uv: DataFrame, large: bool, dedup: bool = True
    ) -> DataFrame:
        # symmetric view: each node u sees all its neighbors
        sym = edges_uv.unionByName(
            edges_uv.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        if large:
            # m(u) over ALL neighbors and self; larger neighbors re-point
            m = sym.groupBy("u").agg(
                F.least(F.min("v"), F.first("u")).alias("_m")
            )
            out = (
                sym.join(m, "u")
                .filter(F.col("v") > F.col("u"))
                .select(F.col("v").alias("u"), F.col("_m").alias("v"))
            )
        else:
            # m(u) over the ≤ side and self; that side (and u) re-point
            le = sym.filter(F.col("v") < F.col("u"))
            m = le.groupBy("u").agg(
                F.min("v").alias("_m")
            )
            out = (
                le.join(m, "u")
                .select(F.col("v").alias("u"), F.col("_m").alias("v"))
                .unionByName(
                    m.select(F.col("u"), F.col("_m").alias("v"))
                )
            )
        out = out.filter(F.col("u") != F.col("v")).select(
            F.least("u", "v").alias("u"),
            F.greatest("u", "v").alias("v"),
        )
        # dedup=False on INNER stars of a fused round: every min-based
        # step is multiplicity-insensitive and the per-star output is
        # bounded by |E|+|nodes| without it (each canonical edge feeds
        # exactly one sym row per star side), so the distinct shuffle
        # is pure overhead except on the LAST star, whose canonical
        # set the count-stability probe compares.
        return out.distinct() if dedup else out

    # TWO double-rounds (large-small-large-small) per eager
    # materialization: on local mode the loop's cost is per-job
    # driver/AQE overhead (~0.3 s/job, CLAUDE.md fewer-rounds lever),
    # not task work, so halving the number of jobs attacks the floor
    # (round-14, verdict directive 1 — qx70's 6 s floor was a dozen
    # materializations of that overhead).  The fusion MUST go through a
    # LAZY localCheckpoint between the double-rounds: each star
    # references its input twice (the symmetric union), so nesting four
    # stars in one logical plan multiplies the innermost subtree ~16×
    # and AQE per-stage replan defeats exchange reuse — measured 19.3 s
    # vs the 6.07 s un-fused floor on qx70.  eager=False truncates the
    # logical plan immediately (LogicalRDD boundary) and the eager job
    # materializes both rounds in ONE action, persisting the mid frame
    # so its double reference reads blocks, not lineage.  Extra rounds
    # past the fixed point are no-ops on the edge set, so fusing never
    # changes the result — only when stability is DETECTED.
    # SMALL-GRAPH FINISHER: the canonical edge count rides every
    # materialization's Observation for free, so once the (possibly
    # already star-contracted) edge set fits one task comfortably,
    # finish the components in a SINGLE mapInPandas union-find job
    # instead of looping more star rounds — the semi-external-memory
    # CC idiom from the public literature (contract distributed, solve
    # the small remainder centrally).  Exact same labels (union-by-min
    # ≡ min-label components); ≤ small_graph_edges × 16 B in one
    # task's memory.  qx70's 1,684-edge ε-graph skips the loop
    # entirely: 8 double-rounds → one job (measured ~2× on the query).
    stable = False
    if n_cur <= small_graph_edges:
        # pinned for the same several-consumers reason as the
        # propagation operator's fast path (qx70 reads comp twice)
        lbl = _smallgraph_labels(cur).localCheckpoint(eager=True)
        stable = True
    else:
        for _ in range((max_iter + 1) // 2):
            ob = Observation()
            mid = _star(
                _star(cur, large=True, dedup=False),
                large=False,
                dedup=False,
            ).localCheckpoint(eager=False)
            nxt = (
                _star(_star(mid, large=True, dedup=False), large=False)
                .observe(ob, F.count(F.lit(1)).alias("n_edges"))
                .localCheckpoint(eager=True)
            )
            n_next = ob.get["n_edges"] or 0
            if n_next <= small_graph_edges:
                lbl = _smallgraph_labels(nxt).localCheckpoint(
                    eager=True
                )
                stable = True
                break
            # fixed point: both stars leave the canonical edge set
            # unchanged.  Count equality is necessary; confirm with an
            # exact set compare only once counts agree (cheap on the
            # checkpointed frames, and rounds until then skip it).
            if n_next == n_cur and (
                nxt.exceptAll(cur).limit(1).count() == 0
            ):
                cur = nxt
                stable = True
                # at the fixed point every edge is (root, child) in
                # canonical form with root = component min
                lbl = cur.select(
                    F.col("v").alias("_n"), F.col("u").alias("_c")
                ).groupBy("_n").agg(F.min("_c").alias("_c"))
                break
            cur, n_cur = nxt, n_next
    if not stable:
        raise RuntimeError(
            f"connected_components_star did not stabilize in {max_iter} "
            "double-rounds — raise max_iter."
        )
    # label = my root, or myself if isolated
    return universe.join(lbl, "_n", "left").select(
        F.col("_n").alias(id_col),
        F.coalesce("_c", "_n").alias("component"),
    )


def connected_components_incremental(
    new_edges: DataFrame,
    base_labels: DataFrame,
    id_col: str = "id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
    component_col: str = "component",
    new_nodes: DataFrame | None = None,
    max_iter: int = 25,
    semi_reduce_base: bool = False,
) -> DataFrame:
    """Updated (id, component) after ADDING ``new_edges`` to a graph
    whose components are already collapsed in ``base_labels`` (id →
    component = min reachable id, :func:`connected_components` output)
    — the dedup-cluster MAINTENANCE step for a continuously-ingesting
    corpus, composing with ``minhash_pairs_incremental`` /
    ``setsim_join_incremental`` (their (new×base) ∪ (new×new) pairs
    are exactly this function's ``new_edges``).

    CONTRACTION, not re-propagation: each new edge endpoint maps to its
    current component representative (its base label; fresh nodes are
    their own), the propagation loop runs on that contracted graph —
    sized by the components the increment TOUCHES plus the fresh nodes,
    never the corpus — and one final join rewrites the base labels
    whose representative moved.  Labels are min-ids, so the min over
    merged representatives is the min over the merged node set and the
    result equals a full recompute over the union graph (asserted in
    tests, including chains that fuse base components THROUGH fresh
    nodes).  ``new_nodes``: optional extra node universe for the
    increment (isolated fresh docs keep their own id).

    ``semi_reduce_base``: apply the incremental-probe discipline
    (CLAUDE.md) — semi-reduce the base map to increment-touched ids via
    a broadcast before the endpoint lookups, and broadcast the
    increment-sized relabeling ``sub`` so the base map is never
    shuffled.  ON for per-batch streaming maintenance against a STORED
    corpus-sized label table (O(touched) instead of O(corpus) shuffle
    per batch); OFF by default — the extra broadcast-build waves
    measured a 15% LOSS on the one-shot qx10 shape at sf0.1 (min-of-6
    1.65 → 1.90 s), where the base map is batch-sized anyway."""
    lbl, fresh, sub = _components_contraction(
        new_edges, base_labels, id_col, src_col, dst_col,
        component_col, new_nodes, max_iter, semi_reduce_base,
    )
    all_lbl = lbl.unionByName(fresh)
    if semi_reduce_base:
        # sub is increment-sized (≤ the contracted graph's
        # representative set, bounded by 2·|new_edges| + |new_nodes|)
        # — broadcast it so the corpus-sized output map is NEVER
        # shuffled for the rewrite (probe side; one pass, no exchange)
        sub = F.broadcast(sub)
    return all_lbl.join(
        sub, all_lbl._bc == sub._rep, "left"
    ).select(
        F.col("_bid").alias(id_col),
        F.coalesce("_newc", "_bc").alias(component_col),
    )


def _components_contraction(
    new_edges: DataFrame,
    base_labels: DataFrame,
    id_col: str,
    src_col: str,
    dst_col: str,
    component_col: str,
    new_nodes: DataFrame | None,
    max_iter: int,
    semi_reduce_base: bool = False,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Shared core of the incremental variants: (base labels as
    (_bid, _bc), fresh self-labeled nodes in the same shape, and the
    contracted-graph relabeling ``sub`` = (_rep, _newc) — which current
    representatives move to which new min-label).
    ``semi_reduce_base``: see :func:`connected_components_incremental`."""
    e = new_edges.select(
        F.col(src_col).cast("bigint").alias("a"),
        F.col(dst_col).cast("bigint").alias("b"),
    )
    lbl = base_labels.select(
        F.col(id_col).cast("bigint").alias("_bid"),
        F.col(component_col).cast("bigint").alias("_bc"),
    )
    new_ids = e.select(F.col("a").alias("_nid")).unionByName(
        e.select(F.col("b").alias("_nid"))
    )
    if new_nodes is not None:
        new_ids = new_ids.unionByName(
            new_nodes.select(F.col(id_col).cast("bigint").alias("_nid"))
        )
    new_ids = new_ids.distinct()
    # incremental-probe discipline (CLAUDE.md, the minhash/semantic-vec
    # precedent), OPT-IN: every join below keys the base label table by
    # an INCREMENT-derived key set (edge endpoints ∪ new nodes), so for
    # a STORED corpus-sized map semi-reduce it to the touched ids via a
    # broadcast FIRST — without this every ingest batch shuffles the
    # whole base map for the two endpoint lookups and the fresh-node
    # anti join (O(corpus) per batch instead of O(touched)).  The
    # broadcast side is increment-sized by construction.  Join-match
    # sets are unchanged: each consumer's keys are ⊆ new_ids, and lbl_t
    # holds exactly the lbl rows whose _bid ∈ new_ids.  Default OFF:
    # on one-shot batch-sized bases the broadcast-build waves measured
    # a 15% loss (qx10 A/B — see the public docstring).
    lbl_t = lbl
    if semi_reduce_base:
        lbl_t = lbl.join(
            F.broadcast(new_ids), lbl._bid == F.col("_nid"), "left_semi"
        )
    ca = e.join(lbl_t, e.a == lbl_t._bid, "left").select(
        F.coalesce("_bc", "a").alias("ca"), "b"
    )
    contracted = (
        ca.join(lbl_t, ca.b == lbl_t._bid, "left")
        .select("ca", F.coalesce("_bc", "b").alias("cb"))
        .filter(F.col("ca") != F.col("cb"))
    )
    sub = connected_components(
        contracted, id_col="rep", src_col="ca", dst_col="cb",
        max_iter=max_iter,
    ).select(
        F.col("rep").alias("_rep"), F.col("component").alias("_newc")
    )
    fresh = (
        new_ids
        .join(lbl_t, F.col("_nid") == lbl_t._bid, "left_anti")
        .select(F.col("_nid").alias("_bid"), F.col("_nid").alias("_bc"))
    )
    return lbl, fresh, sub


def connected_components_incremental_delta(
    new_edges: DataFrame,
    base_labels: DataFrame,
    id_col: str = "id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
    component_col: str = "component",
    new_nodes: DataFrame | None = None,
    max_iter: int = 25,
    semi_reduce_base: bool = False,
) -> DataFrame:
    """The CHANGED-ROWS form of :func:`connected_components_incremental`
    — only (id, component) rows that are NEW (fresh increment nodes) or
    whose component MOVED (base rows whose representative merged into a
    smaller label).  ``base ∪ delta`` (keyed upsert on ``id``) equals
    the full-map variant, asserted in tests.

    This is the label-MAINTENANCE shape a continuously-ingesting corpus
    commits: the full map is corpus-sized and rewriting it per batch is
    an O(corpus) write, while the delta is sized by the increment plus
    the members of the base components it touched — exactly what a
    keyed snapshot merge (sources/snapshot.py::snapshot_merge, file-
    pruned by key bounds) rewrites.  streaming/dedup.py maintains the
    dedup-cluster labels table with this per micro-batch —
    ``semi_reduce_base=True`` there (the incremental-probe discipline:
    the stored map is corpus-sized, so the endpoint lookups semi-reduce
    it to touched ids via a broadcast and ``moved``/``sub`` broadcast so
    the map never shuffles per batch; see
    :func:`connected_components_incremental` for the measured default-
    OFF rationale)."""
    lbl, fresh, sub = _components_contraction(
        new_edges, base_labels, id_col, src_col, dst_col,
        component_col, new_nodes, max_iter, semi_reduce_base,
    )
    moved = sub.filter(F.col("_newc") != F.col("_rep"))
    if semi_reduce_base:
        # moved/sub are increment-sized — broadcast them so the
        # corpus-sized base map and the fresh frame are pure probe
        # sides (no per-batch shuffle of stored state)
        moved = F.broadcast(moved)
        sub = F.broadcast(sub)
    changed_base = lbl.join(moved, lbl._bc == moved._rep).select(
        F.col("_bid").alias(id_col),
        F.col("_newc").alias(component_col),
    )
    fresh_out = fresh.join(sub, fresh._bc == sub._rep, "left").select(
        F.col("_bid").alias(id_col),
        F.coalesce("_newc", "_bc").alias(component_col),
    )
    return fresh_out.unionByName(changed_base)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.1,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """EXACT n-gram Jaccard for all pairs sharing ≥1 shingle — the
    scalable formulation (vs the quadratic cross-join in q32, which is
    only viable on small subsets).

    Pipeline: distinct (id, shingle) → self-join ON SHINGLE (each
    co-occurring shingle contributes one match row) → count = |A∩B| →
    join per-doc sizes → J = i / (|A| + |B| - i).  Cost is Σ df(s)² over
    shingles instead of N²: boilerplate shingles dominate, so
    ``max_doc_freq`` drops shingles appearing in more than that many
    docs (a stop-shingle both engines of any dedup pipeline prune; they
    carry ~zero discriminative signal and all of the skew).

    Pairs with zero shared shingles (J=0) are never materialized —
    equivalent to any threshold > 0.
    """
    # explode_outer, NOT explode: InferFiltersFromGenerate would add a
    # size>0/isnotnull pre-filter that re-evaluates the fully-inlined
    # shingle pipeline once more per row (measured 34x on this exact
    # shape — CLAUDE.md invariant).  The rule skips outer generates; the
    # null filter restores inner-join semantics for sub-k/empty docs.
    # tokens materialized FIRST (round-8 review): the inline form
    # passed tokenize() straight into token_shingles, whose window
    # lambda then re-split the text once per shingle — the module's
    # own documented O(tokens²) hazard.  token_shingles' expansion
    # multi-references _toks, which blocks CollapseProject re-inlining.
    from ros_sql_spark.functions.util import ensure_scan_parallelism

    toked = ensure_scan_parallelism(df).select(
        F.col(id_col).alias("_id"),
        tokenize(F.col(text_col)).alias("_toks"),
    )
    sh = toked.select(
        "_id",
        F.explode_outer(
            F.array_distinct(token_shingles("_toks", k))
        ).alias("_sh"),
    ).filter(F.col("_sh").isNotNull())
    if max_doc_freq is not None:
        hot = (
            sh.groupBy("_sh")
            .agg(F.count("*").alias("_df"))
            .filter(F.col("_df") > max_doc_freq)
            .select("_sh")
        )
        sh = sh.join(F.broadcast(hot), "_sh", "left_anti")
    sizes = sh.groupBy("_id").agg(F.count("*").alias("_n"))
    a = sh.select(F.col("_id").alias("id_a"), "_sh")
    b = sh.select(F.col("_id").alias("id_b"), "_sh")
    inter = (
        a.join(b, "_sh")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("_i"))
    )
    na = sizes.select(F.col("_id").alias("id_a"), F.col("_n").alias("_na"))
    nb = sizes.select(F.col("_id").alias("id_b"), F.col("_n").alias("_nb"))
    jac = F.col("_i").cast("double") / (
        F.col("_na") + F.col("_nb") - F.col("_i")
    ).cast("double")
    return (
        inter.join(na, "id_a")
        .join(nb, "id_b")
        .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def setsim_join(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    k: int = 5,
) -> DataFrame:
    """EXACT Jaccard ≥ threshold pairs over k-token shingle sets via
    PREFIX FILTERING (the PPJoin family's candidate rule, public
    literature) — the exact set-similarity join that scales past
    :func:`ngram_jaccard_pairs`.

    That function's candidate cost is Σ df(s)² over ALL shingles; the
    prefix filter joins only each set's ``n − ⌈t·n⌉ + 1`` RAREST
    shingles (under one global (doc-frequency, shingle) order), with
    the guarantee that any pair with J ≥ t shares at least one
    prefix-resident shingle — so frequent shingles (the entire skew
    problem) never enter the candidate join at all, and no pair is
    lost.  Candidates then verify with the exact intersection from the
    full sets: the result is EXACTLY the pairs at J ≥ t (rounded to
    the repo's 6-decimal parity boundary, like every jaccard here).

    Sets are 8-BYTE SHINGLE HASHES (:func:`shingle_hashes`), not
    strings: hash-set Jaccard ≡ string-set Jaccard modulo 2^-64
    collisions (q95's discipline — the string-building oracle is the
    collision check), and the swap took the sf0.1 run from 14.7s to
    1.6s with bit-identical output — every downstream stage (frequency
    count, per-doc struct sort, candidate equi-join, intersection
    verify) moves longs instead of 5-token strings.

    Plan shape: one df-count aggregation, one per-doc sort of its own
    shingle structs (``array_sort`` inside the row — no global sort),
    an equi-join on prefix shingles, and a verify join against the set
    arrays.  No cartesian, no windows.

    NO sets pin (round-16 measured): ``sets`` feeds four differently-
    projected subtrees of the one pairs action, so the shingle fold
    does re-run per consumer — but an eager checkpoint of ``sets``
    LOSES on the real pipelines anyway (qx02 shape 2.08→2.36 s
    min-of-7 on a raw scan; full qx26 interleaved bench-protocol
    5.05→5.11/5.35 s).  An isolated harness that pre-materializes the
    input pin outside the timed region overstates the re-derivation
    cost (warm checkpoint reads are cheap; the extra materialization
    wave + pin write are not) — measure pins on the FULL query.
    """
    sets = _shingle_sets(df, id_col, text_col, k)
    tok = sets.select(
        "_id", F.explode_outer("_ts").alias("_s")
    ).filter(F.col("_s").isNotNull())
    freq = tok.groupBy("_s").agg(F.count("*").alias("_df"))
    # per-doc shingles in GLOBAL (df, hash) order — rarest first; the
    # struct sort is total (hash tiebreak), so prefixes are consistent
    # corpus-wide
    prefix = _prefix_table(tok.join(freq, "_s"), threshold)
    cand = (
        prefix.select(F.col("_id").alias("id_a"), "_s")
        .join(prefix.select(F.col("_id").alias("id_b"), "_s"), "_s")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    sa = sets.select(F.col("_id").alias("id_a"), F.col("_ts").alias("_sa"))
    sb = sets.select(F.col("_id").alias("id_b"), F.col("_ts").alias("_sb"))
    inter = F.size(F.array_intersect("_sa", "_sb"))
    union = F.size("_sa") + F.size("_sb") - inter
    jac = inter.cast("double") / union.cast("double")
    # Threshold on the UNROUNDED jaccard: the prefix length guarantees
    # candidate recall only for exact J >= t, so a rounded filter could
    # admit pairs (true J within 5e-7 below t) the prefix never promised
    # to surface — a latent recall/parity gap at the boundary.  Rounding
    # is applied after, for output/parity display only (oracle mirrors).
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", jac.alias("_jac"))
        .filter(F.col("_jac") >= threshold)
        .select("id_a", "id_b", F.round("_jac", 6).alias("jaccard"))
    )


def _shingle_sets(
    df: DataFrame, id_col: str, text_col: str, k: int
) -> DataFrame:
    """(_id, _ts) — each document's DISTINCT k-token shingle-hash set."""
    return shingle_hashes(df, id_col, text_col, k).select(
        F.col(id_col).alias("_id"),
        F.array_distinct("_hs").alias("_ts"),
    )


def _prefix_table(ranked_tok: DataFrame, threshold: float) -> DataFrame:
    """(_id, _s) — each set's PPJoin prefix (its ``n − ⌈t·n⌉ + 1``
    smallest shingles under the (``_df``, shingle) struct order) from a
    ranked token table (_id, _s, _df).  The struct sort is total (hash
    tiebreak), so any rank column that is a fixed function of the
    shingle yields corpus-consistent prefixes — the property the
    incremental path exploits with its frozen base ranks."""
    ordered = ranked_tok.groupBy("_id").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("_df"), F.col("_s")))
        ).alias("_ord")
    )
    n = F.size("_ord")
    p = (
        n
        - F.ceil(F.lit(float(threshold)) * n.cast("double")).cast("int")
        + F.lit(1)
    )
    return ordered.select(
        "_id",
        F.explode_outer(F.slice("_ord", F.lit(1), p)).alias("_e"),
    ).select("_id", F.col("_e._s").alias("_s"))


def setsim_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    k: int = 5,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The storable exact-set-similarity index of a corpus:
    ``(sets, prefix, freq)`` frames — (_id, _ts full shingle-hash set),
    (_id, _s prefix shingles), (_s, _df base doc frequency).

    All three are deterministic pure projections of the corpus
    (seed-fixed xxhash64 shingles, the frozen (df, shingle) rank), so
    they can be written once — parquet or a snapshot table — and served
    to every subsequent :func:`setsim_join_incremental` ingest: the
    base corpus is shingled, ranked, and prefixed ONCE ever, not once
    per ingest batch (the ``minhash_index`` contract, exact-join
    edition).  The prefix length bakes in ``threshold``; an index is
    valid only for incremental joins at the SAME threshold (PPJoin
    indexes are per-threshold by construction — store one per operating
    point, or index at the lowest threshold you will ever query and
    re-verify higher ones).
    """
    # No materialization pin: Spark's ReusedExchange already dedups the
    # shared shingle subplans inside one action, and lazily
    # checkpointing the three frames here measured SLOWER on qx07
    # (2.1s -> 3.1s — it serializes the pipeline into separate
    # materialization waves).  Production persistence is a snapshot
    # table write, not an in-plan checkpoint.
    sets = _shingle_sets(df, id_col, text_col, k)
    tok = sets.select(
        "_id", F.explode_outer("_ts").alias("_s")
    ).filter(F.col("_s").isNotNull())
    freq = tok.groupBy("_s").agg(F.count("*").alias("_df"))
    return sets, _prefix_table(tok.join(freq, "_s"), threshold), freq


def setsim_join_incremental(
    new_docs: DataFrame,
    base_index: tuple[DataFrame, DataFrame, DataFrame],
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    k: int = 5,
    pins_out: list[DataFrame] | None = None,
) -> DataFrame:
    """EXACT Jaccard ≥ threshold pairs for an INGEST INCREMENT against
    an indexed corpus: (new × base) ∪ (new × new), never base × base —
    :func:`setsim_join` for the continuously-ingesting pipeline, where
    re-running the full self-join per batch would be quadratic in
    corpus size forever.

    The prefix filter's recall guarantee needs only ONE total order on
    the shingle universe shared by every compared set — not the "true"
    combined-corpus df order — so the base's stored prefixes stay valid
    verbatim: the increment ranks its shingles by the FROZEN base
    frequency where the base has seen them, and by the batch's own
    frequency where it hasn't (``coalesce(df_base, df_batch)``).  Base
    documents contain no unseen shingles, so their element-relative
    order under this rank is exactly the stored one; batch-internal
    boilerplate (frequent-but-unseen shingles) still ranks high and
    stays OUT of prefixes — the skew that would otherwise explode the
    new×new candidate join.  Candidates verify against the exact
    shingle sets, so output equals ``setsim_join(new ∪ base)`` minus
    base-internal pairs (asserted in tests) regardless of rank
    heuristics.  Increment ids must be disjoint from the base's.
    """
    base_sets, base_prefix, base_freq = base_index
    # The increment's shingle sets feed FOUR differently-projected
    # consumers (new_tok → batch_freq/ranked/prefix, and both verify
    # sides through all_sets) whose subtrees are never canonically
    # equal — exchange reuse cannot fire (the qx44 rule), so the
    # shingle fold re-ran per reference.  Lazily pinned (round-15):
    # qx07 interleaved A/B min-of-5, 2.65 → 2.44 s with every pair
    # faster; base-side pinning alone re-measured a wash (consistent
    # with setsim_index's standing no-pin verdict), the increment pin
    # is what pays.  In the streaming ingest path new_docs is a
    # micro-batch — the pin is batch-sized, never corpus-sized, and the
    # caller can reclaim its storage after its consuming actions via
    # ``pins_out`` + release_local_checkpoints (round-15 ADVICE: the
    # per-batch pins otherwise wait on the ContextCleaner's GC cycle).
    new_sets = _shingle_sets(new_docs, id_col, text_col, k).localCheckpoint(
        eager=False
    )
    if pins_out is not None:
        pins_out.append(new_sets)
    new_tok = new_sets.select(
        "_id", F.explode_outer("_ts").alias("_s")
    ).filter(F.col("_s").isNotNull())
    batch_freq = new_tok.groupBy("_s").agg(F.count("*").alias("_bdf"))
    ranked = (
        new_tok.join(base_freq, "_s", "left")
        .join(batch_freq, "_s")
        .select(
            "_id", "_s", F.coalesce("_df", "_bdf").alias("_df")
        )
    )
    new_prefix = _prefix_table(ranked, threshold)

    nb = new_prefix.withColumn("_new", F.lit(True))
    ab = nb.unionByName(
        base_prefix.select("_id", "_s").withColumn("_new", F.lit(False))
    )
    cand = (
        nb.select(F.col("_id").alias("id_a"), "_s")
        .join(
            ab.select(F.col("_id").alias("id_b"), "_s", "_new"), "_s"
        )
        # new-new pairs arrive in both orders (keep a<b); new-base pairs
        # arrive once (keep both orders, canonicalize); base-base pairs
        # never form — the probe side is increment-only
        .filter((~F.col("_new")) | (F.col("id_a") < F.col("id_b")))
        .filter(F.col("id_a") != F.col("id_b"))
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
        )
        .distinct()
    )
    all_sets = new_sets.unionByName(base_sets)
    sa = all_sets.select(F.col("_id").alias("id_a"), F.col("_ts").alias("_sa"))
    sb = all_sets.select(F.col("_id").alias("id_b"), F.col("_ts").alias("_sb"))
    inter = F.size(F.array_intersect("_sa", "_sb"))
    union = F.size("_sa") + F.size("_sb") - inter
    jac = inter.cast("double") / union.cast("double")
    # unrounded threshold first, rounding for output only — the same
    # boundary discipline as setsim_join (candidate recall is guaranteed
    # only for exact J >= t)
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", jac.alias("_jac"))
        .filter(F.col("_jac") >= threshold)
        .select("id_a", "id_b", F.round("_jac", 6).alias("jaccard"))
    )


# md5 of the empty byte string: an EMPTY passage (all-"" tokens from
# consecutive spaces) hashes to this constant, so hash-only pipelines
# can exclude empty passages without materializing the strings
_MD5_EMPTY = "d41d8cd98f00b204e9800998ecf8427e"


def remove_boilerplate(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    passage_tokens: int = 10,
    max_doc_freq: int = 10,
    tokens_out: str | None = None,
) -> DataFrame:
    """Strip passages that repeat across more than ``max_doc_freq``
    documents (headers, footers, navigation chrome, license blurbs) and
    rebuild each document from its surviving passages in order.

    Output: (id, text) with ``text`` the cleaned document; a document
    whose EVERY passage is boilerplate drops out entirely (no empty-
    string row).  ``tokens_out``: optionally also emit the cleaned
    document's TOKEN array under this name — ``text`` is exactly
    ``array_join(tokens, " ")``, so a caller that needs tokens next
    (curate()'s quality gate) skips a full re-split of the rebuilt
    text; tokenize(text) == the emitted array by construction
    (whitespace split round-trips through a single-space join).

    Round-15 shape (directive #1 — this stage was ~70% of
    qx26_curate_full's floor): NO document text ever crosses an
    exchange.  The census explodes only (id, pos, 128-bit digest) —
    empty passages excluded by comparing against the md5-of-empty
    CONSTANT instead of materializing passage strings — one narrow
    single-exchange count_distinct census yields the HOT digest set
    (boilerplate is by definition a small distinct set — it repeats).
    (A round-15 draft replaced the per-passage md5 with token-hash
    folds — an F.aggregate fold AND the fixed-width multi-arg
    xxhash64 form were BOTH measured slower than the codegen'd
    concat_ws+md5 on q85 solo A/B at sf0.1 (~1.39 → ~1.55 s min-of-5):
    at 10-token stride the per-passage hashing is not the cost, the
    lambda/get plumbing is.  The md5 census stays.)
    A second pass over the hash rows left-joins the broadcast hot set
    and groups per doc to (hot positions, non-empty passage count) —
    still only (id, pos, flag) rows through the exchange.  The
    rebuild is then a doc-side PROJECTION: join the tokenized docs to
    the per-doc frame (un-hinted — AQE picks the strategy), filter
    the passage INDEX list, and flatten the surviving token slices
    into one array_join — no second passages_of pass, and the kept
    TOKEN array is emittable for free (``tokens_out``), which is
    where qx26's measured win lives (solo min-of-5 A/B at sf0.1:
    5.74 → 4.95 s with curate()'s quality gate consuming the carried
    tokens instead of re-splitting the rebuilt text).  The
    everything-was-boilerplate drop is decided by the CHEAP count
    compare — a size(<rebuild>)>0 filter draft got the rebuild
    expression INLINED into the pushed-down predicate and evaluated
    twice per row (the suite's Generate/filter plan guard caught it).
    Lazy-checkpointing the hash table measured slightly WORSE — the
    hash pipeline is two cheap JVM passes; the pin's write outweighs
    the re-derive.
    """
    from ros_sql_spark.functions.util import ensure_scan_parallelism

    # the closed-form empty-passage test below (_is_empty / nne:
    # "empty iff n − i·P == 1 and the last token is ''") is only valid
    # for P >= 2: at P == 1 every slice has length 1, so mid-document
    # "" tokens (consecutive spaces under split-on-space tokenize) form
    # empty passages at non-final positions the arithmetic would keep —
    # changing rebuilt text and the all-boilerplate drop decision
    # (round-15 ADVICE).  Fail loudly instead of silently diverging.
    if passage_tokens < 2:
        raise ValueError(
            "remove_boilerplate: passage_tokens must be >= 2 (the "
            "closed-form empty-passage arithmetic assumes multi-token "
            f"slices); got {passage_tokens}"
        )

    # tokens materialized FIRST (round-8 review): an inline tokenize()
    # captured in the passage lambda re-splits the text once per
    # passage — O(n²/P) per document
    toked = ensure_scan_parallelism(df).select(
        F.col(id_col), tokenize(text_col).alias("_toks")
    )
    n = F.size("_toks")
    # passage i = tokens [i*P, (i+1)*P); slice() is 1-indexed; integer
    # floor-div (never `/`: Column `/` is double division and
    # sequence() rejects a double bound)
    idxs = F.sequence(
        F.lit(0),
        F.floor((n - 1) / F.lit(passage_tokens)).cast("int"),
    )
    # passage i is the EMPTY STRING iff its token slice is the lone
    # trailing "" token (concat_ws of any longer slice contains a
    # separator): n − i·P == 1 and the last token is "" — pure
    # arithmetic, used by the rebuild filter so no passage string is
    # rebuilt just to compare against ""
    last_empty = F.element_at("_toks", n) == F.lit("")

    def _is_empty(i):
        return (n - i * passage_tokens == F.lit(1)) & last_empty

    hashes = F.transform(
        idxs,
        lambda i: F.md5(
            F.concat_ws(
                " ", F.slice(F.col("_toks"), i * passage_tokens + 1,
                             passage_tokens)
            ).cast("binary")
        ),
    )
    # bare explode of per-row hashes is the documented cheap-explode
    # class; _outer keeps null-text docs flowing to the filter
    ph = toked.select(
        F.col(id_col), F.posexplode_outer(hashes).alias("pos", "_h")
    ).filter(F.col("_h") != F.lit(_MD5_EMPTY))
    # ONE exchange: a single count_distinct plans as partial
    # (digest, id) dedup map-side + a final dedup-and-count after one
    # hash-partitioning on the digest — the old distinct().groupBy()
    # paid a second exchange for the same census
    hot = (
        ph.groupBy("_h")
        .agg(F.count_distinct(F.col(id_col)).alias("_df"))
        .filter(F.col("_df") > max_doc_freq)
        .select("_h")
    )
    # per-doc HOT positions only (round-15, second pass): the old
    # left-join + groupBy aggregated EVERY (id, pos, flag) row just to
    # carry the non-empty passage count alongside the hot positions —
    # but that count is pure per-row arithmetic on the rebuild side
    # (all passages are non-empty except the lone single-token
    # trailing "" — the same closed form _is_empty uses), so the
    # aggregate only needs the hot rows.  INNER join to the broadcast
    # hot set first: only hot-passage instances cross the exchange and
    # enter the ObjectHashAggregate (boilerplate instances ≪ all
    # passages), and the rebuild-side build frame shrinks from
    # every-doc to docs-with-chrome.  The cheap-count drop compare
    # stays (predicate pushdown cannot inline the rebuild expression —
    # the size(<rebuild>)>0 draft measured exactly that hazard).
    perdoc = (
        ph.join(F.broadcast(hot), "_h")
        .groupBy(id_col)
        .agg(F.collect_list(F.col("pos")).alias("_hot"))
    )
    # non-empty passage count, computed where the tokens already are:
    # every passage is non-empty except the single-token trailing ""
    # (n − i·P == 1 forces i == ⌊(n−1)/P⌋ with (n−1) mod P == 0).
    # size(idxs) is written closed-form — ⌊(n−1)/P⌋+1 — instead of
    # size(sequence(...)): sequence() would materialize an array per
    # row just to measure it, and a nested-expression size() on a
    # Filter line is exactly what the suite's Generate/filter plan
    # lint rejects (null _toks → null count → dropped, unchanged)
    nne = (
        F.floor((n - 1) / F.lit(passage_tokens))
        + 1
        - F.when(
            ((n - 1) % passage_tokens == 0) & last_empty, F.lit(1)
        ).otherwise(F.lit(0))
    )
    # rebuild: keep passage INDEXES first (hot/empty passages are never
    # sliced at all), then flatten the surviving token slices — the
    # document is all kept tokens joined by one space, which equals the
    # old per-passage concat_ws + passage array_join byte-for-byte
    keep_idx = F.filter(
        idxs,
        lambda i: ~_is_empty(i)
        & ~F.coalesce(F.array_contains(F.col("_hot"), i), F.lit(False)),
    )
    kept_toks = F.flatten(
        F.transform(
            keep_idx,
            lambda i: F.slice(
                F.col("_toks"), i * passage_tokens + 1, passage_tokens
            ),
        )
    )
    out_cols = [F.col(id_col), F.array_join(kept_toks, " ").alias(text_col)]
    if tokens_out is not None:
        out_cols.append(kept_toks.alias(tokens_out))
    # LEFT join: chrome-free docs have no perdoc row now (null _hot —
    # keep_idx's coalesce already treats it as "no hot positions");
    # the drop filter compares the arithmetic non-empty count against
    # the hot-position count (null-text docs: nne is null → dropped,
    # exactly the old inner join's behavior)
    return (
        toked.join(perdoc, id_col, "left")
        .filter(nne > F.coalesce(F.size("_hot"), F.lit(0)))
        .select(*out_cols)
    )


def remove_duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_docs: int = 2,
    persist_windows: bool = True,
) -> DataFrame:
    """Exact SUBSTRING-level dedup (the published "deduplicating
    training data" shape, token-window form): any run of ``k``
    consecutive tokens whose exact content appears in ``min_docs`` or
    more DISTINCT documents is excised from every document, and each
    document is rebuilt from its surviving tokens in order.  Finer
    than :func:`remove_boilerplate` (passage = fixed block; this
    catches duplicated spans at ANY offset) and exact where MinHash is
    probabilistic.

    Output: (id, text) in token-normalized form (lowercased,
    whitespace-joined — the same normalization the window comparison
    uses, mirroring remove_boilerplate's rebuild); a document whose
    every token is covered by duplicated windows drops out entirely.
    Documents shorter than ``k`` tokens have no window and pass through
    untouched (in normalized form).

    Scale shape, all JVM: one windowed-hash pass per doc (the
    shingle_hashes fold — no per-span strings), ONE narrow shuffle
    grouping windows by hash for the distinct-doc count (never a
    corpus self-join), a semi-join marking duplicated window starts, a
    k-fan-out explode of ONLY the duplicated windows into covered
    token positions, an anti-join dropping covered tokens, and one
    per-doc reassembly groupBy.  Window-content equality is
    hash-equality modulo 2^-64 collisions, the same documented trade
    as every shingle_hashes consumer.

    ``persist_windows`` (default True): the narrow (id, pos, hash)
    window table feeds BOTH the df-count build side and the semi-join
    probe side of one action's DAG — persisting it computes the token
    fold once (measured at 20x/100k docs: 5.0s vs 7.4s; unlike q90's
    wide shingle arrays, three longs per row is cheap to cache).  The
    cache handle rides on the result as ``_rosql_cached`` (module
    convention) — callers release it after their action.  Pass False
    where an unreleased cache would leak (curate() does: its output is
    consumed across many later actions with no release point).
    """
    from ros_sql_spark.functions.util import ensure_scan_parallelism

    # lazy probe: this operator sits mid-pipeline in curate(), where
    # an eager df.rdd probe would materialize the upstream stages
    # under AQE (measured — see functions/util.py)
    base = ensure_scan_parallelism(df).select(
        F.col(id_col), tokenize(text_col).alias("_toks")
    )
    hashed = base.select(
        id_col,
        "_toks",
        F.transform("_toks", lambda t: F.xxhash64(t)).alias("_th"),
        F.size("_toks").alias("_n"),
    )
    windows = F.when(F.col("_n") >= k, _window_hashes("_th", "_n", k))
    # posexplode_outer: the Generate invariant (CLAUDE.md) — the window
    # expression is expensive and the inferred pre-filter would inline
    # it per row; short docs yield a NULL element filtered right after.
    win = hashed.select(
        id_col, F.posexplode_outer(windows).alias("_p", "_s")
    ).filter(F.col("_s").isNotNull())
    if persist_windows:
        win = win.persist()
    dup = (
        win.groupBy("_s")
        .agg(F.count_distinct(F.col(id_col)).alias("_df"))
        .filter(F.col("_df") >= min_docs)
        .select("_s")
    )
    # duplicated window at array index p (0-based) covers tokens
    # [p+1, p+k] in 1-based positions
    covered = (
        win.join(dup, "_s", "left_semi")
        .select(
            id_col,
            F.explode_outer(
                F.sequence(F.col("_p") + 1, F.col("_p") + k)
            ).alias("_tpos"),
        )
        .distinct()
    )
    # _tok IS NOT NULL: a NULL-text doc explodes to one (NULL, NULL)
    # row which would otherwise survive the anti-join and resurrect as
    # an empty-string document — NULL-text docs drop entirely instead,
    # matching remove_boilerplate's behavior for the same input class
    tok_rows = (
        hashed.select(
            id_col, F.posexplode_outer("_toks").alias("_tp0", "_tok")
        )
        .filter(F.col("_tok").isNotNull())
        .select(id_col, (F.col("_tp0") + 1).alias("_tpos"), "_tok")
    )
    kept = tok_rows.join(covered, [id_col, "_tpos"], "left_anti")
    out = kept.groupBy(id_col).agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("_tpos", "_tok"))),
                lambda s: s["_tok"],
            ),
        ).alias(text_col)
    )
    out._rosql_cached = win if persist_windows else None
    return out


def edit_distance_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    str_col: str = "text",
    max_dist: int = 2,
    q: int = 2,
) -> DataFrame:
    """EXACT edit-distance similarity join: all pairs with
    ``levenshtein(a, b) <= max_dist`` — blocked, never all-pairs.

    Blocking with completeness guarantee (the classic q-gram count
    bound): one edit destroys at most ``q`` q-grams, and a string of
    length L has L-q+1 of them, so two strings within ``max_dist``
    edits MUST share a q-gram whenever ``min_len >= q*(max_dist+1)``.
    Candidates are therefore (a) pairs sharing any q-gram, plus (b) a
    LENGTH-BAND block for strings below that bound (a short string
    emits keys for lengths ``len..len+max_dist``; every string short
    enough to partner one emits its own length key), after which the
    necessary ``|len(a)-len(b)| <= max_dist`` filter cuts the block
    and the exact thresholded ``levenshtein`` verifies.  Results carry
    the true distance — value-exact in any engine with classic
    Levenshtein (the qx27 oracle recomputes it quadratically).

    100 TB shape: gram explode is linear (L-q+1 keys per row); block
    join candidates are sum-of-block-size-squared like every blocked
    similarity join here (gram blocks on real text are selective; a
    pathological hot gram is AQE-split exactly like a hot MinHash
    bucket); the verify is Spark's THRESHOLDED levenshtein (banded DP,
    O(max_dist * len) per pair, early exit) on candidate pairs only;
    the corpus never self-joins unblocked.
    """
    bound = q * (max_dist + 1)
    s = df.select(
        F.col(id_col).cast("bigint").alias("_id"),
        F.col(str_col).alias("_s"),
        F.length(str_col).alias("_l"),
    ).filter(F.col("_s").isNotNull())

    grams = F.transform(
        F.sequence(F.lit(1), F.col("_l") - q + 1),
        lambda i: F.concat(
            F.lit("g:"), F.call_function("substr", F.col("_s"), i, F.lit(q))
        ),
    )
    # length-band keys: shorts emit their reach; potential partners
    # (anything a short could pair with) emit their own length
    short_reach = F.transform(
        F.sequence(F.col("_l"), F.col("_l") + max_dist),
        lambda v: F.concat(F.lit("l:"), v.cast("string")),
    )
    own_len = F.array(F.concat(F.lit("l:"), F.col("_l").cast("string")))
    keys = F.array_distinct(
        F.when(F.col("_l") >= bound + max_dist, grams)
        .when(
            F.col("_l") >= bound,
            F.concat(grams, own_len),
        )
        .otherwise(F.concat(grams, short_reach))
    )
    # explode_outer + null filter: the Generate invariant (CLAUDE.md) —
    # grams is an expensive per-row expression the inferred pre-filter
    # would otherwise inline per row
    blocked = s.select(
        "_id", "_l", F.explode_outer(keys).alias("_k")
    ).filter(F.col("_k").isNotNull())
    cand = (
        blocked.alias("a")
        .join(blocked.alias("b"), "_k")
        .filter(
            (F.col("a._id") < F.col("b._id"))
            & (
                F.abs(F.col("a._l") - F.col("b._l")) <= max_dist
            )
        )
        .select(
            F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b")
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    sa = s.select(F.col("_id").alias("id_a"), F.col("_s").alias("_sa"))
    sb = s.select(F.col("_id").alias("id_b"), F.col("_s").alias("_sb"))
    dist = F.levenshtein("_sa", "_sb", max_dist)
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", dist.alias("dist"))
        .filter(F.col("dist").between(0, max_dist))
        .select(
            "id_a", "id_b", F.col("dist").cast("bigint").alias("dist")
        )
    )
