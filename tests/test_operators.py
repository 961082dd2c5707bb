"""Operator-level tests: dedup recall on planted near-duplicates, SimHash
locality, LSH-ANN recall vs the exact baseline, multimodal plumbing."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from ros_sql_spark.operators.dedup import exact_dedup, minhash_pairs
from ros_sql_spark.operators.multimodal import as_assets, extract_features
from ros_sql_spark.operators.similarity import brute_force_knn, lsh_knn
from tests.conftest import SF_SMALL


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        "doc_id", "text"
    )


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")


def test_exact_dedup_keeps_min_id(spark, docs):
    doubled = docs.unionByName(
        docs.filter(F.col("doc_id") < 10).select(
            (F.col("doc_id") + 5000).alias("doc_id"), "text"
        )
    )
    kept = {r.doc_id for r in exact_dedup(doubled, "doc_id", "text").collect()}
    assert len(kept) == docs.count()  # one survivor per distinct text
    assert all(k < 5000 for k in kept)  # min id survives


def test_minhash_finds_planted_near_dups(spark, docs):
    planted = docs.filter(F.col("doc_id") < 8).select(
        (F.col("doc_id") + 9000).alias("doc_id"),
        F.concat("text", F.lit(" tail tail")).alias("text"),
    )
    pairs = minhash_pairs(docs.unionByName(planted), threshold=0.5)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert {(i, i + 9000) for i in range(8)} <= got


def test_minhash_arrow_matches_jvm_fold_bitwise(spark, docs):
    """The vectorized numpy backend must reproduce Spark's
    xxhash64-family signatures BIT-FOR-BIT — same minima per dimension
    as the pure-JVM higher-order fold (including the short-doc
    single-shingle path)."""
    from ros_sql_spark.operators.dedup import minhash_signatures

    sample = docs.filter(F.col("doc_id") < 200)
    short = spark.createDataFrame(
        [(9001, "one"), (9002, "two words"), (9003, "")],
        "doc_id long, text string",
    )
    both = sample.unionByName(short)
    arrow = {
        r.doc_id: list(r.sig)
        for r in minhash_signatures(both, use_arrow=True).collect()
    }
    jvm = {
        r.doc_id: list(r.sig)
        for r in minhash_signatures(both, use_arrow=False).collect()
    }
    assert arrow.keys() == jvm.keys()
    for d in jvm:
        assert arrow[d] == jvm[d], f"doc {d} signature diverged"


def test_connected_components_planted_clusters(spark):
    """Chains, triangles, isolated nodes — every node labels with the
    min id of its component; convergence needs diameter rounds (the
    chain is the worst case)."""
    from ros_sql_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        # chain 1-2-3-4-5, triangle 10-11-12, pair 20-21
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (11, 12), (10, 12), (20, 21)],
        "id_a long, id_b long",
    )
    nodes = spark.createDataFrame(
        [(i,) for i in [1, 2, 3, 4, 5, 10, 11, 12, 20, 21, 99]], "id long"
    )
    got = {
        r.id: r.component
        for r in connected_components(edges, nodes=nodes, id_col="id").collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1,
                   10: 10, 11: 10, 12: 10, 20: 20, 21: 20, 99: 99}


def test_components_noncovering_universe_finisher_matches_loop(spark):
    """Round-15 ADVICE: for a NON-covering ``nodes`` universe the
    small-graph finisher must agree with the propagation loop — labels
    relay only through LISTED nodes, so the unlisted bridge node 2 must
    NOT merge 1 and 3 (the finisher previously union-found over all
    endpoints and the divergence was silent and size-dependent)."""
    from ros_sql_spark.operators.dedup import connected_components

    # path 1-2-3 with 2 unlisted: 1 and 3 stay separate; pair 10-11
    # fully listed: merges as usual
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    nodes = spark.createDataFrame(
        [(i,) for i in [1, 3, 10, 11, 99]], "id long"
    )
    expect = {1: 1, 3: 3, 10: 10, 11: 10, 99: 99}
    for sge in (200_000, 0):  # finisher path, then loop path
        got = {
            r.id: r.component
            for r in connected_components(
                edges, nodes=nodes, id_col="id", small_graph_edges=sge
            ).collect()
        }
        assert got == expect, (sge, got)


def test_simhash_locality(spark, docs):
    """Near-duplicate docs land within a few SimHash bits; unrelated docs
    don't collide that closely (locality property, not exactness)."""
    from ros_sql_spark.functions.text import simhash, tokens

    base = docs.filter(F.col("doc_id") < 30)
    edited = base.select(
        (F.col("doc_id") + 1000).alias("doc_id"),
        F.concat("text", F.lit(" zz")).alias("text"),
    )
    sh = (
        base.unionByName(edited)
        .select("doc_id", tokens("text").alias("_t"))
        .select("doc_id", simhash("_t").alias("h"))
    )
    a = sh.filter(F.col("doc_id") < 1000).select(
        F.col("doc_id").alias("ia"), F.col("h").alias("ha")
    )
    b = sh.filter(F.col("doc_id") >= 1000).select(
        (F.col("doc_id") - 1000).alias("ib"), F.col("h").alias("hb")
    )
    ham = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    near = a.join(b, a.ia == b.ib).select(ham.alias("d")).collect()
    far = a.join(b, a.ia == ((b.ib + 7) % 30)).select(ham.alias("d")).collect()
    near_avg = sum(r.d for r in near) / len(near)
    far_avg = sum(r.d for r in far) / len(far)
    assert near_avg < far_avg / 2, (near_avg, far_avg)


def test_lsh_recall_vs_bruteforce(spark, emb):
    queries = emb.filter(F.col("vec_id") < 30)
    exact = brute_force_knn(emb, queries, k=5)
    approx = lsh_knn(emb, queries, dim=64, k=5, bands=8, planes_per_band=4)
    e = {(r.query_id, r.vec_id) for r in exact.collect()}
    a = {(r.query_id, r.vec_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    # banded LSH (8 tables x 4 planes): theory gives ~0.75 recall at
    # cos~0.4; assert well above half and far above chance (5/500 = 1%).
    assert recall > 0.5, recall
    a2 = {(r.query_id, r.vec_id) for r in lsh_knn(emb, queries, dim=64, k=5, bands=8, planes_per_band=4).collect()}
    assert a == a2


def test_lsh_int_planes_recall_and_determinism(spark, emb):
    """q40's oracle-exact formulation (integer sign decisions + fold
    rerank) must keep the recall floor — the floor-quantization moves
    essentially no sign — and be run-to-run deterministic."""
    queries = emb.filter(F.col("vec_id") < 30)
    exact = brute_force_knn(emb, queries, k=5)
    approx = lsh_knn(
        emb, queries, dim=64, k=5, bands=8, planes_per_band=4,
        int_planes=True, exact_rerank=True,
    )
    e = {(r.query_id, r.vec_id) for r in exact.collect()}
    a = {(r.query_id, r.vec_id) for r in approx.collect()}
    assert len(e & a) / len(e) > 0.5, len(e & a) / len(e)
    a2 = {
        (r.query_id, r.vec_id)
        for r in lsh_knn(
            emb, queries, dim=64, k=5, bands=8, planes_per_band=4,
            int_planes=True, exact_rerank=True,
        ).collect()
    }
    assert a == a2


def test_lsh_similarities_match_exact_on_overlap(spark, emb):
    """Where LSH and brute force agree on a neighbor, the rounded cosine
    must be identical (rerank is exact)."""
    queries = emb.filter(F.col("vec_id") < 10)
    exact = {(r.query_id, r.vec_id): r.sim for r in brute_force_knn(emb, queries, k=5).collect()}
    approx = {(r.query_id, r.vec_id): r.sim for r in lsh_knn(emb, queries, dim=64, k=5, bands=8, planes_per_band=4).collect()}
    overlap = set(exact) & set(approx)
    assert overlap
    assert all(exact[p] == approx[p] for p in overlap)


def test_multimodal_plumbing(spark, docs):
    assets = as_assets(docs, "doc_id", "text", "text/plain")
    feats = extract_features(assets, dim=8)
    rows = feats.collect()
    assert len(rows) == docs.count()
    assert all(len(r.features) == 8 for r in rows)
    assert all(0.0 <= v < 1.0 for r in rows for v in r.features)
    # deterministic across runs
    again = {r.asset_id: r.features for r in extract_features(assets, dim=8).collect()}
    assert {r.asset_id: r.features for r in rows} == again
    # metadata passthrough
    assert all(r.mime == "text/plain" and r.n_bytes > 0 for r in rows)


def test_multimodal_real_codec_is_gated(spark, docs):
    """The real path decodes BMP/PPM natively; payloads no codec can
    handle (text bytes here) still fail honestly — per asset, at task
    time, with the NotImplementedError surfaced in the Python worker
    traceback.  Video now gates the same way: y4m decodes natively,
    non-video payloads fail per asset naming their magic."""
    from ros_sql_spark.operators.multimodal import resize_media, sample_frames

    assets = as_assets(docs, "doc_id", "text", "text/plain")
    with pytest.raises(Exception, match="NotImplementedError|unsupported"):
        extract_features(assets, deterministic_fake=False).collect()
    with pytest.raises(Exception, match="NotImplementedError|unsupported"):
        resize_media(assets, 8, 8, deterministic_fake=False).collect()
    with pytest.raises(Exception, match="NotImplementedError|YUV4MPEG2"):
        sample_frames(assets, deterministic_fake=False).collect()


def test_multimodal_resize_shape_and_determinism(spark, docs):
    from ros_sql_spark.operators.multimodal import resize_media

    assets = as_assets(docs.filter(F.col("doc_id") < 50), "doc_id", "text", "img/fake")
    out = resize_media(assets, 16, 4)
    rows = out.collect()
    assert len(rows) == 50
    # size-correct payload, metadata records the new geometry
    assert all(len(r.media) == 16 * 4 for r in rows)
    assert all(
        r.meta.width == 16 and r.meta.height == 4 and r.meta.n_bytes == 64
        and r.meta.mime == "img/fake"
        for r in rows
    )
    again = {r.asset_id: bytes(r.media) for r in resize_media(assets, 16, 4).collect()}
    assert {r.asset_id: bytes(r.media) for r in rows} == again


def test_multimodal_frame_sampling_cardinality(spark, docs):
    from ros_sql_spark.operators.multimodal import sample_frames

    assets = as_assets(docs.filter(F.col("doc_id") < 20), "doc_id", "text", "video/fake")
    frames = sample_frames(assets, n_frames=3).collect()
    assert len(frames) == 20 * 3  # one asset row -> n_frames rows
    by_asset = {}
    for r in frames:
        by_asset.setdefault(r.asset_id, set()).add((r.frame_idx, bytes(r.frame)))
    assert all(len(v) == 3 for v in by_asset.values())
    # frames are distinct per index (md5 chain seeded by (payload, idx))
    for v in by_asset.values():
        assert len({b for _, b in v}) == 3


def test_ivf_recall_vs_bruteforce(spark, emb):
    from ros_sql_spark.operators.similarity import ivf_knn

    queries = emb.filter(F.col("vec_id") < 30)
    exact = {(r.query_id, r.vec_id) for r in brute_force_knn(emb, queries, k=5).collect()}
    approx = {
        (r.query_id, r.vec_id)
        for r in ivf_knn(emb, queries, k=5, n_cells=16, n_probe=4).collect()
    }
    recall = len(exact & approx) / len(exact)
    # probing 1/4 of cells on near-random data: well above chance and the
    # rerank keeps whatever it finds exact
    assert recall > 0.4, recall


def test_ivf_many_cells_no_plan_blowup(spark, emb):
    """The 100 TB guard for the round-2 'weak' mark: probe assignment
    must be the Arrow matmul, never per-centroid plan literals.  At
    n_cells=64 the literal form would put 64×64 float literals (plus 64
    interpreted fold expressions) into the plan; the matmul plan stays
    flat, and a prebuilt index serves query batches without
    re-clustering."""
    from ros_sql_spark.operators.similarity import ivf_index, ivf_knn

    index = ivf_index(emb, n_cells=64)
    queries = emb.filter(F.col("vec_id") < 20)
    out = ivf_knn(emb, queries, k=5, n_probe=16, index=index)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert len(plan) < 60_000, f"plan exploded: {len(plan)} chars"
    exact = {(r.query_id, r.vec_id) for r in brute_force_knn(emb, queries, k=5).collect()}
    approx = {(r.query_id, r.vec_id) for r in out.collect()}
    assert len(approx & exact) / len(exact) > 0.4


def test_ivf_deterministic(spark, emb):
    from ros_sql_spark.operators.similarity import ivf_knn

    queries = emb.filter(F.col("vec_id") < 10)
    a = sorted(map(tuple, ivf_knn(emb, queries, k=3).collect()))
    b = sorted(map(tuple, ivf_knn(emb, queries, k=3).collect()))
    assert a == b


def test_approx_count_distinct_error_bound(spark):
    """approx_count_distinct (HLL++) within its rsd bound vs exact —
    SURVEY.md §2.2 'Distinct aggregation' approximate path (no oracle:
    DuckDB's HLL parameters differ, so values can't hash-match)."""
    ev = spark.read.parquet(f"{SF_SMALL.replace('sf0.001','sf0.01')}/events.parquet")
    rows = ev.select(
        F.countDistinct("user_id").alias("exact"),
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx"),
    ).head()
    assert abs(rows.approx - rows.exact) / rows.exact < 0.1


def test_cosine_dedup_pairs_lsh_recall_and_exactness(spark, emb):
    """LSH all-pairs embedding dedup (the scale twin of q68's gated
    quadratic): every pair it emits carries the EXACT cosine (banding
    only gates candidacy), and at 16x4 banding it recovers the large
    majority of true pairs above the threshold."""
    from ros_sql_spark.operators.similarity import (
        cosine,
        cosine_dedup_pairs_lsh,
    )

    sub = emb.filter(F.col("vec_id") < 200)
    got = {
        (r.id_a, r.id_b): r.sim
        for r in cosine_dedup_pairs_lsh(sub, threshold=0.3).collect()
    }
    a = sub.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = sub.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    exact = {
        (r.id_a, r.id_b): r.sim
        for r in a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.round(cosine("va", "vb"), 6).alias("sim"))
        .filter(F.col("sim") >= 0.3)
        .collect()
    }
    assert set(got) <= set(exact)  # no false positives (exact rerank)
    recall = len(got) / len(exact) if exact else 1.0
    assert recall > 0.6, (recall, len(exact))
    # sims agree to the last rounded digit modulo summation order: allow 1e-6
    for k in got:
        assert abs(got[k] - exact[k]) <= 1e-6, (k, got[k], exact[k])


def test_remove_duplicate_spans_matches_reference(spark):
    """Substring-level exact dedup agrees with a brute-force Python
    reference on a corpus with planted shared spans, overlapping
    duplicated windows, a fully-duplicated doc, and a short doc."""
    from ros_sql_spark.operators.dedup import remove_duplicate_spans

    shared = "the quick brown fox jumps over the lazy dog tonight"
    corpus = {
        1: f"alpha beta gamma {shared} delta epsilon zeta",
        2: f"one two {shared} three four five six seven",
        3: shared,  # fully duplicated: must drop out
        4: "completely unique text with no repeated spans anywhere at all",
        5: "tiny doc",  # shorter than k: passes through normalized
        # overlap: two shifted copies of the shared span merge coverage
        6: f"{shared} over the lazy dog tonight extra tail words here",
    }
    k, min_docs = 5, 2

    def ref():
        toks = {i: t.lower().split(" ") for i, t in corpus.items()}
        from collections import defaultdict

        seen = defaultdict(set)
        for i, ts in toks.items():
            for p in range(len(ts) - k + 1):
                seen[tuple(ts[p : p + k])].add(i)
        dup = {w for w, s in seen.items() if len(s) >= min_docs}
        out = {}
        for i, ts in toks.items():
            cov = set()
            for p in range(len(ts) - k + 1):
                if tuple(ts[p : p + k]) in dup:
                    cov.update(range(p, p + k))
            kept = [t for j, t in enumerate(ts) if j not in cov]
            if kept:
                out[i] = " ".join(kept)
        return out

    df = spark.createDataFrame(
        list(corpus.items()), "doc_id long, text string"
    )
    got = {
        r.doc_id: r.text
        for r in remove_duplicate_spans(
            df, k=k, min_docs=min_docs
        ).collect()
    }
    expect = ref()
    assert got == expect
    assert 3 not in got  # fully-duplicated doc dropped
    assert got[4] == corpus[4]  # untouched doc survives verbatim
    assert got[5] == corpus[5]
    assert shared.split(" ")[0] not in got[1].split(" ")  # span excised


def test_remove_duplicate_spans_threshold(spark):
    """min_docs=3: a span shared by only two docs survives."""
    from ros_sql_spark.operators.dedup import remove_duplicate_spans

    shared = "a b c d e f g h"
    df = spark.createDataFrame(
        [(1, f"x {shared} y"), (2, f"p {shared} q"), (3, "unrelated words only here")],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r.text
        for r in remove_duplicate_spans(df, k=5, min_docs=3).collect()
    }
    assert got[1] == f"x {shared} y"
    assert got[2] == f"p {shared} q"


def test_remove_duplicate_spans_null_text_drops(spark):
    """NULL-text docs drop entirely (remove_boilerplate parity), never
    resurrect as empty-string rows."""
    from ros_sql_spark.operators.dedup import remove_duplicate_spans

    df = spark.createDataFrame(
        [(1, "some real text here"), (2, None)],
        "doc_id long, text string",
    )
    out = remove_duplicate_spans(df, k=3, min_docs=2)
    got = {r.doc_id for r in out.collect()}
    if out._rosql_cached is not None:
        out._rosql_cached.unpersist()
    assert got == {1}


def test_kmv_sketch_properties(spark):
    """KMV: (a) the two-phase salted bottom-k equals the exact global
    bottom-k; (b) estimates are exact below k and within the published
    ~1/sqrt(k) band above it; (c) pairwise overlap estimates recover a
    planted 50% Jaccard within the same band."""
    import pyspark.sql.functions as F

    from ros_sql_spark.operators.sketch import (
        kmv_estimate,
        kmv_hash,
        kmv_pair_overlap,
        kmv_sketch,
    )

    # two interleaved sets of 2000 members sharing exactly 1000:
    # A = [0, 2000), B = [1000, 3000) -> |A∪B| = 3000, J = 1/3
    rows = [("A", i) for i in range(2000)] + [
        ("B", i) for i in range(1000, 3000)
    ]
    df = spark.createDataFrame(rows, "s string, m long")
    k = 256
    sk = kmv_sketch(df, "s", "m", k=k)

    # (a) exact global bottom-k identity (the salted two-phase must be
    # invisible in the result)
    got_a = sorted(r.h for r in sk.filter("s = 'A'").collect())
    exact_a = sorted(
        r.h
        for r in df.filter("s = 'A'")
        .select(kmv_hash(F.col("m")).alias("h"))
        .distinct()
        .orderBy("h")
        .limit(k)
        .collect()
    )
    assert got_a == exact_a and len(got_a) == k

    # (b) cardinality estimates within 4/sqrt(k) (~25% at k=256;
    # deterministic given the fixed hash, so no flake)
    est = {r.s: r.est for r in kmv_estimate(sk, "s", k=k).collect()}
    for s in ("A", "B"):
        assert abs(est[s] - 2000) / 2000 < 4 / (k ** 0.5), est

    # exactness below k: a 50-member set estimates exactly 50.0
    small = spark.createDataFrame(
        [("C", i) for i in range(50)], "s string, m long"
    )
    sk_small = kmv_sketch(small, "s", "m", k=k)
    assert kmv_estimate(sk_small, "s", k=k).collect()[0].est == 50.0

    # (c) overlap: union ~3000, jaccard ~1/3, intersection ~1000
    ov = kmv_pair_overlap(sk, "s", k=k).collect()
    assert len(ov) == 1
    r = ov[0]
    assert (r.set_a, r.set_b) == ("A", "B")
    band = 4 / (k ** 0.5)
    assert abs(r.est_union - 3000) / 3000 < band
    assert abs(r.jaccard_est - 1 / 3) < band
    assert abs(r.est_intersection - 1000) / 1000 < 2 * band


@pytest.mark.slow  # >=10s in the r11 duration profile
def test_setsim_join_equals_bruteforce(spark):
    """Prefix filtering must be LOSSLESS: setsim_join's pairs equal the
    quadratic all-pairs ground truth exactly (ids and rounded jaccard),
    at two thresholds."""
    import pyspark.sql.functions as F

    from ros_sql_spark.operators.dedup import (
        setsim_join,
        token_shingles,
        tokenize,
    )
    from ros_sql_spark.sources.io import load_table
    from tests.conftest import SF_SMALL

    docs = load_table(spark, SF_SMALL, "documents")
    sets = docs.select(
        F.col("doc_id"),
        F.array_distinct(token_shingles(tokenize(F.col("text")), 5)).alias("ts"),
    )
    a = sets.select(F.col("doc_id").alias("id_a"), F.col("ts").alias("sa"))
    b = sets.select(F.col("doc_id").alias("id_b"), F.col("ts").alias("sb"))
    inter = F.size(F.array_intersect("sa", "sb"))
    union = F.size("sa") + F.size("sb") - inter
    # brute-force threshold on the UNROUNDED jaccard, like the operator:
    # the prefix filter guarantees recall only for exact J >= t
    jac = inter.cast("double") / union.cast("double")
    brute = (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", jac.alias("_jac"))
    )
    for t in (0.3, 0.7):
        want = sorted(
            map(
                tuple,
                brute.filter(F.col("_jac") >= t)
                .select("id_a", "id_b", F.round("_jac", 6).alias("jaccard"))
                .collect(),
            )
        )
        got = sorted(
            map(tuple, setsim_join(docs, "doc_id", "text", t, 5).collect())
        )
        assert got == want, f"t={t}: {len(got)} vs {len(want)}"


def test_exact_percentiles_identical_to_builtin(spark):
    """The rank-based selection must reproduce Spark's own
    percentile() aggregate BIT-IDENTICALLY — same pos = p*(n-1) double
    arithmetic, same interpolation — on real data and on the edge
    shapes (n=1 group, n=2 interpolation, heavy duplicates, p=0/1,
    NULL values ignored)."""
    import pyspark.sql.functions as F

    from ros_sql_spark.operators.percentile import exact_percentiles
    from ros_sql_spark.sources.io import load_table
    from tests.conftest import SF_SMALL

    ev = load_table(spark, SF_SMALL, "events")
    ps = {"p05": 0.05, "p50": 0.5, "p90": 0.9, "p0": 0.0, "p1": 1.0}
    got = {
        r.event_type: tuple(r)[1:]
        for r in exact_percentiles(ev, ["event_type"], "value", ps).collect()
    }
    want = {
        r.event_type: tuple(r)[1:]
        for r in ev.groupBy("event_type")
        .agg(*[F.expr(f"percentile(value, {p})").alias(n) for n, p in ps.items()])
        .collect()
    }
    assert got == want and len(got) > 1

    edge = spark.createDataFrame(
        [("a", 5.0), ("b", 1.0), ("b", 2.0), ("n", None), ("n", 4.0)]
        + [("c", 3.0)] * 4
        + [("c", 10.0)],
        "g string, v double",
    )
    eg = {
        r.g: (r.q25, r.q75)
        for r in exact_percentiles(
            edge, ["g"], "v", {"q25": 0.25, "q75": 0.75}
        ).collect()
    }
    ew = {
        r.g: (r.q25, r.q75)
        for r in edge.groupBy("g")
        .agg(
            F.expr("percentile(v, 0.25)").alias("q25"),
            F.expr("percentile(v, 0.75)").alias("q75"),
        )
        .collect()
    }
    assert eg == ew

    with pytest.raises(ValueError, match="outside"):
        exact_percentiles(edge, ["g"], "v", {"bad": 1.5})

    # keep_null_groups=True restores percentile()'s row semantics: an
    # all-NULL group ("z") comes back with NULL percentiles instead of
    # disappearing (round-7 ADVICE drop-in hazard)
    edge2 = edge.union(
        spark.createDataFrame([("z", None)], "g string, v double")
    )
    kept = {
        r.g: (r.q25, r.q75)
        for r in exact_percentiles(
            edge2, ["g"], "v", {"q25": 0.25, "q75": 0.75},
            keep_null_groups=True,
        ).collect()
    }
    want2 = {
        r.g: (r.q25, r.q75)
        for r in edge2.groupBy("g")
        .agg(
            F.expr("percentile(v, 0.25)").alias("q25"),
            F.expr("percentile(v, 0.75)").alias("q75"),
        )
        .collect()
    }
    assert kept == want2 and kept["z"] == (None, None)

    # a NULL group KEY with real values must keep its computed
    # percentiles under keep_null_groups=True (groupBy treats NULL as a
    # grouping value; a null-unsafe restore join dropped them — round-8
    # review finding)
    edge3 = edge2.union(
        spark.createDataFrame(
            [(None, 1.0), (None, 3.0)], "g string, v double"
        )
    )
    kept3 = {
        r.g: (r.q25, r.q75)
        for r in exact_percentiles(
            edge3, ["g"], "v", {"q25": 0.25, "q75": 0.75},
            keep_null_groups=True,
        ).collect()
    }
    want3 = {
        r.g: (r.q25, r.q75)
        for r in edge3.groupBy("g")
        .agg(
            F.expr("percentile(v, 0.25)").alias("q25"),
            F.expr("percentile(v, 0.75)").alias("q75"),
        )
        .collect()
    }
    assert kept3 == want3
    assert kept3[None] == (1.5, 2.5)


def test_quantile_sketch_properties(spark):
    """Quantile-sketch invariants: ≤ k rows per group; EXACT estimates
    when the group fits whole; sampled estimates near the true
    quantile; merge of partition sketches == one-shot sketch
    (associativity — the property the streaming twin rides on)."""
    import pyspark.sql.functions as F

    from ros_sql_spark.operators.percentile import exact_percentiles
    from ros_sql_spark.operators.sketch import (
        quantile_estimate,
        quantile_sketch,
    )
    from ros_sql_spark.streaming.sketch import quantile_merge
    from ros_sql_spark.sources.io import load_table
    from tests.conftest import SF_SMALL

    ev = load_table(spark, SF_SMALL, "events").select(
        "event_id", "event_type", "value"
    )
    ps = {"p50": 0.5, "p90": 0.9}

    # small-group exactness: k larger than any group → sample == group
    sk_big = quantile_sketch(ev, "event_type", "value", "event_id", k=10_000)
    per_group = {r[0]: r for r in ev.groupBy("event_type").count().collect()}
    szs = {r[0]: r[1] for r in sk_big.groupBy("event_type").count().collect()}
    assert all(szs[g] == per_group[g][1] for g in szs)
    est = {
        r.event_type: (r.p50, r.p90)
        for r in quantile_estimate(sk_big, "event_type", ps).collect()
    }
    exact = {
        r.event_type: (r.p50, r.p90)
        for r in exact_percentiles(ev, ["event_type"], "value", ps).collect()
    }
    assert est == exact

    # sampled: bounded size, estimate within the sample error band
    k = 64
    sk = quantile_sketch(ev, "event_type", "value", "event_id", k=k)
    assert sk.groupBy("event_type").count().agg(F.max("count")).first()[0] <= k
    est_s = {
        r.event_type: r.p50
        for r in quantile_estimate(sk, "event_type", {"p50": 0.5}).collect()
    }
    spread = {
        r.event_type: r.s
        for r in ev.groupBy("event_type")
        .agg((F.max("value") - F.min("value")).alias("s"))
        .collect()
    }
    for g, e in est_s.items():
        assert abs(e - exact[g][0]) <= 0.25 * spread[g], (g, e, exact[g][0])

    # merge associativity: sketch(A) ⊕ sketch(B) == sketch(A ∪ B)
    a = ev.filter(F.col("event_id") % 2 == 0)
    b = ev.filter(F.col("event_id") % 2 == 1)
    merged = quantile_merge(
        quantile_sketch(a, "event_type", "value", "event_id", k=k),
        quantile_sketch(b, "event_type", "value", "event_id", k=k),
        "event_type",
        k,
    )
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, sk.collect())
    )


def test_countmin_properties(spark):
    """Count-Min invariants: never underestimates, exact when width
    kills collisions, counter table bounded by depth*width."""
    import pyspark.sql.functions as F

    from ros_sql_spark.operators.sketch import cm_build, cm_estimate

    rows = [(f"k{i % 37}",) for i in range(5000)]
    df = spark.createDataFrame(rows, "k string")
    true = {r.k: r.n for r in df.groupBy("k").agg(F.count("*").alias("n")).collect()}
    keys = df.select("k").distinct()

    # tight width: collisions certain, estimates only ever >= truth
    c64 = cm_build(df, "k", depth=4, width=8)
    assert c64.count() <= 4 * 8
    est = {r.k: r.est for r in cm_estimate(keys, c64, "k", depth=4, width=8).collect()}
    assert all(est[k] >= n for k, n in true.items())

    # wide sketch: 37 keys over 4x4096 rows -> exact with high
    # probability under the deterministic hash (asserted: it is, for
    # this fixed key set)
    cw = cm_build(df, "k", depth=4, width=4096)
    estw = {r.k: r.est for r in cm_estimate(keys, cw, "k", depth=4, width=4096).collect()}
    assert estw == true


def test_components_incremental_equals_full_recompute(spark):
    """Contraction must equal a full recompute over the union graph:
    new edges that fuse base components, fuse THROUGH chains of fresh
    nodes, create fresh-only components, or touch nothing."""
    from ros_sql_spark.operators.dedup import (
        connected_components,
        connected_components_incremental,
    )

    def cc(edges, nodes=None):
        return {
            (r.id, r.component)
            for r in connected_components(edges, nodes=nodes).collect()
        }

    base_edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (30, 31)],
        "id_a long, id_b long",
    )
    base_nodes = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 10, 11, 20, 21, 30, 31, 40)], "id long"
    )
    base = connected_components(base_edges, nodes=base_nodes)

    # fuse 1-3 with 10-11 directly; fuse 20-21 with 30-31 through the
    # fresh chain 50-51; isolated fresh component 60-61; fresh node 70
    # via new_nodes; base singleton 40 untouched
    inc_edges = spark.createDataFrame(
        [(3, 10), (21, 50), (50, 51), (51, 30), (60, 61)],
        "id_a long, id_b long",
    )
    new_nodes = spark.createDataFrame([(70,)], "id long")
    got = {
        (r.id, r.component)
        for r in connected_components_incremental(
            inc_edges, base, new_nodes=new_nodes
        ).collect()
    }
    all_edges = base_edges.unionByName(inc_edges)
    all_nodes = base_nodes.unionByName(
        spark.createDataFrame(
            [(i,) for i in (50, 51, 60, 61, 70)], "id long"
        )
    )
    assert got == cc(all_edges, all_nodes)

    # empty increment is the identity
    empty = spark.createDataFrame([], "id_a long, id_b long")
    got0 = {
        (r.id, r.component)
        for r in connected_components_incremental(empty, base).collect()
    }
    assert got0 == {(r.id, r.component) for r in base.collect()}


def test_components_incremental_delta_composes_to_full_map(spark):
    """The changed-rows form: base ∪ delta (upsert on id) must equal
    the full-map variant on the same increment, the delta must contain
    ONLY fresh ids and base ids whose component moved, and an empty
    increment with no new nodes yields an empty delta."""
    from ros_sql_spark.operators.dedup import (
        connected_components,
        connected_components_incremental,
        connected_components_incremental_delta,
    )

    base_edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (30, 31)],
        "id_a long, id_b long",
    )
    base_nodes = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 10, 11, 20, 21, 30, 31, 40)], "id long"
    )
    base = connected_components(base_edges, nodes=base_nodes)
    base_map = {r.id: r.component for r in base.collect()}

    inc_edges = spark.createDataFrame(
        [(3, 10), (21, 50), (50, 51), (51, 30), (60, 61)],
        "id_a long, id_b long",
    )
    new_nodes = spark.createDataFrame([(70,)], "id long")
    full = {
        r.id: r.component
        for r in connected_components_incremental(
            inc_edges, base, new_nodes=new_nodes
        ).collect()
    }
    delta = {
        r.id: r.component
        for r in connected_components_incremental_delta(
            inc_edges, base, new_nodes=new_nodes
        ).collect()
    }
    upserted = dict(base_map)
    upserted.update(delta)
    assert upserted == full
    # delta rows are exactly: fresh ids, or moved base ids
    for i, c in delta.items():
        assert i not in base_map or base_map[i] != c, (i, c)
    # every fresh id present; every unmoved base id absent
    assert {50, 51, 60, 61, 70} <= set(delta)
    assert 40 not in delta and 1 not in delta

    empty = spark.createDataFrame([], "id_a long, id_b long")
    assert (
        connected_components_incremental_delta(empty, base).count() == 0
    )


def _base_scan_join_paths(plan, marker: str) -> list[list[str]]:
    """For every file scan in the executed ``plan`` whose root path
    holds ``marker``: the node names from that scan up to (and
    including) its nearest join ancestor.  Descends into AQE's final
    plan, its query stages and reused exchanges, which are not
    ordinary children."""
    out: list[list[str]] = []

    def kids(node):
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            return [node.executedPlan()]
        if name.endswith("QueryStageExec"):
            return [node.plan()]
        if name == "ReusedExchangeExec":
            return [node.child()]
        ch = node.children()
        return [ch.apply(i) for i in range(ch.size())]

    def walk(node, ancestors):
        name = node.getClass().getSimpleName()
        if name == "FileSourceScanExec" and marker in str(
            node.relation().location().rootPaths().toString()
        ):
            path = [name]
            for a in reversed(ancestors):
                path.append(a)
                if "Join" in a:
                    break
            out.append(path)
            return
        for k in kids(node):
            walk(k, ancestors + [name])

    walk(plan, [])
    return out


def test_components_incremental_semi_reduce_mode_equivalent(spark, tmp_path):
    """semi_reduce_base=True (the streaming per-batch shape: base map
    semi-reduced to increment-touched ids via broadcast, increment-sized
    relabeling broadcast) must return the SAME rows as the default for
    both variants, and its plan must probe the base map with broadcast
    joins only — never a shuffle of the base side: every base-map scan
    feeds a BroadcastHashJoin as its streamed side (no exchange between
    scan and join), never a SortMergeJoin or ShuffledHashJoin.  Size-
    based broadcasting is off, so only the mode's own hints can make a
    join a broadcast (the default mode shuffles the base side)."""
    from ros_sql_spark.operators.dedup import (
        connected_components,
        connected_components_incremental,
        connected_components_incremental_delta,
    )

    base_edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (30, 31)],
        "id_a long, id_b long",
    )
    base_nodes = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 10, 11, 20, 21, 30, 31, 40)], "id long"
    )
    # the base map as a parquet scan, so its leaves are identifiable
    # in the executed plan by path
    base_path = str(tmp_path / "base_map")
    connected_components(base_edges, nodes=base_nodes).write.parquet(
        base_path
    )
    base = spark.read.parquet(base_path)
    inc_edges = spark.createDataFrame(
        [(3, 10), (21, 50), (50, 51), (51, 30), (60, 61)],
        "id_a long, id_b long",
    )
    new_nodes = spark.createDataFrame([(70,)], "id long")

    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for fn in (
            connected_components_incremental,
            connected_components_incremental_delta,
        ):
            plain_df = fn(inc_edges, base, new_nodes=new_nodes)
            plain = {(r.id, r.component) for r in plain_df.collect()}
            reduced_df = fn(
                inc_edges, base, new_nodes=new_nodes, semi_reduce_base=True
            )
            reduced = {(r.id, r.component) for r in reduced_df.collect()}
            assert reduced == plain, fn.__name__
            # (the components loop inside the contraction may still
            # shuffle — that's the increment-sized subgraph, not the
            # base map)
            paths = _base_scan_join_paths(
                reduced_df._jdf.queryExecution().executedPlan(), "base_map"
            )
            assert paths, fn.__name__
            for path in paths:
                assert path[-1] == "BroadcastHashJoinExec", (fn.__name__, path)
                assert not any(
                    "Exchange" in n or "QueryStage" in n for n in path
                ), (fn.__name__, path)
            # the check discriminates: the default mode shuffles the
            # base side into a sort-merge join
            plain_paths = _base_scan_join_paths(
                plain_df._jdf.queryExecution().executedPlan(), "base_map"
            )
            assert any(
                p[-1] in ("SortMergeJoinExec", "ShuffledHashJoinExec")
                for p in plain_paths
            ), (fn.__name__, plain_paths)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)


def test_components_incremental_on_corpus_pairs(spark):
    """End-to-end with a real pair generator: base components from the
    corpus's base slice, increment pairs from setsim_join_incremental —
    final labels equal the full-graph recompute."""
    import pyspark.sql.functions as F

    from ros_sql_spark.operators.dedup import (
        connected_components,
        connected_components_incremental,
        setsim_index,
        setsim_join,
        setsim_join_incremental,
    )

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").filter(
        F.col("doc_id") < 120
    )
    base_docs = docs.filter(F.col("doc_id") % 4 != 0)
    new_docs = docs.filter(F.col("doc_id") % 4 == 0)
    thr = 0.2
    base_pairs = setsim_join(base_docs, threshold=thr, k=5).select(
        F.col("id_a"), F.col("id_b")
    )
    base = connected_components(
        base_pairs, nodes=base_docs.select("doc_id"), id_col="doc_id"
    )
    inc_pairs = setsim_join_incremental(
        new_docs, setsim_index(base_docs, threshold=thr), threshold=thr
    ).select("id_a", "id_b")
    got = {
        (r.doc_id, r.component)
        for r in connected_components_incremental(
            inc_pairs, base, id_col="doc_id",
            new_nodes=new_docs.select("doc_id"),
        ).collect()
    }
    full_pairs = setsim_join(docs, threshold=thr, k=5).select("id_a", "id_b")
    want = {
        (r.doc_id, r.component)
        for r in connected_components(
            full_pairs, nodes=docs.select("doc_id"), id_col="doc_id"
        ).collect()
    }
    assert got == want


def test_minhash_md5_backends_bit_identical(spark):
    """minhash_bands_md5's Arrow and JVM affine folds must produce the
    SAME (doc, band, band_hash) rows — the Arrow path is a pure speed
    substitution (measured 1.2s vs 3.1s at sf0.1), never a semantic
    one; q26's oracle depends on it."""
    from ros_sql_spark.operators.dedup import minhash_bands_md5
    from ros_sql_spark.sources.io import load_table
    from tests.conftest import SF_SMALL

    docs = load_table(spark, SF_SMALL, "documents")
    a = {
        (r.doc_id, r.band, r.band_hash)
        for r in minhash_bands_md5(docs, use_arrow=True).collect()
    }
    b = {
        (r.doc_id, r.band, r.band_hash)
        for r in minhash_bands_md5(docs, use_arrow=False).collect()
    }
    assert a == b and len(a) > 0


def test_minhash_null_text_both_backends_agree(spark):
    """A NULL-text doc must neither crash the Arrow backend (NaN-bearing
    list → int64 cast error) nor diverge from the JVM fold — both yield
    the same fold-of-nothing signature (round-8 review)."""
    from ros_sql_spark.operators.dedup import (
        minhash_bands_md5,
        minhash_signatures,
    )

    docs = spark.createDataFrame(
        [(1, "some regular document text here"), (2, None), (3, "")],
        "doc_id long, text string",
    )
    arrow = {
        r.doc_id: list(r.sig)
        for r in minhash_signatures(docs, use_arrow=True).collect()
    }
    jvm = {
        r.doc_id: list(r.sig)
        for r in minhash_signatures(docs, use_arrow=False).collect()
    }
    assert arrow == jvm
    assert len(arrow) == 3 and all(v is not None for v in arrow[2])
    # md5-affine family: NULL text ≡ empty text, backends agree too
    a = {
        (r.doc_id, r.band, r.band_hash)
        for r in minhash_bands_md5(docs, use_arrow=True).collect()
    }
    b = {
        (r.doc_id, r.band, r.band_hash)
        for r in minhash_bands_md5(docs, use_arrow=False).collect()
    }
    assert a == b
    null_rows = {(bd, h) for d, bd, h in a if d == 2}
    empty_rows = {(bd, h) for d, bd, h in a if d == 3}
    assert null_rows == empty_rows  # NULL ≡ ''


def test_exact_dedup_incremental_null_content_not_readmitted(spark):
    """md5(NULL) is NULL; the stored digest set holds the NULL row, and
    a NULL-content doc in a later increment must be DROPPED like any
    other already-seen digest (round-8 review: the null-unsafe
    anti-join re-admitted it every batch)."""
    from ros_sql_spark.operators.dedup import (
        exact_dedup_incremental,
        exact_digests,
    )

    base = spark.createDataFrame(
        [(1, "alpha"), (2, None)], "doc_id long, text string"
    )
    inc = spark.createDataFrame(
        [(10, "alpha"), (11, None), (12, "fresh")],
        "doc_id long, text string",
    )
    kept = {
        r.doc_id
        for r in exact_dedup_incremental(inc, exact_digests(base)).collect()
    }
    assert kept == {12}, kept


def test_star_components_keep_self_loop_only_nodes(spark):
    """A node appearing only in self-loop edges must still label itself
    — same contract as the propagation operator (round-8 review: the
    star variant dropped it)."""
    from ros_sql_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    edges = spark.createDataFrame(
        [(1, 2), (5, 5), (7, 7), (7, 8)], "id_a long, id_b long"
    )
    want = {
        (r.id, r.component)
        for r in connected_components(edges).collect()
    }
    got = {
        (r.id, r.component)
        for r in connected_components_star(edges).collect()
    }
    assert got == want
    assert (5, 5) in got


def test_star_components_strategies_and_finisher_agree(spark):
    """Round-14 contract: the three physical paths through
    connected_components_star — small-graph union-find finisher
    (default thresholds), forced star loop, and a MID-LOOP handoff (threshold between the
    initial and contracted edge counts) — all produce identical
    labels, equal to the propagation operator.  Random graph + a long
    chain (star's specialty regime; propagation is the oracle only on
    the random graph, whose diameter fits its hop budget)."""
    from ros_sql_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    rows, x = [], 12345
    for _ in range(800):
        x = (x * 48271) % 2147483647
        a = x % 300
        x = (x * 48271) % 2147483647
        rows.append((a, x % 300))
    edges = spark.createDataFrame(rows, "id_a long, id_b long")
    want = {
        (r.id, r.component)
        for r in connected_components(edges).collect()
    }
    for kw in (
        {},  # finisher path (800 canonical edges << default threshold)
        {"small_graph_edges": 0},  # full star loop
    ):
        got = {
            (r.id, r.component)
            for r in connected_components_star(edges, **kw).collect()
        }
        assert got == want, kw

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(600)], "id_a long, id_b long"
    )
    want_chain = {(i, 0) for i in range(601)}
    for kw in (
        {},  # immediate finisher
        {"small_graph_edges": 300},  # handoff after star contraction
        {"small_graph_edges": 0},  # full star loop to the fixed point
    ):
        got = {
            (r.id, r.component)
            for r in connected_components_star(chain, **kw).collect()
        }
        assert got == want_chain, kw

    # the PROPAGATION operator's small-graph fast path (round-14):
    # identical labels to its own forced loop, on the random graph,
    # with and without an explicit node universe (isolated node 400)
    nodes = spark.range(0, 401).selectExpr("id")
    for kw2 in ({"nodes": None}, {"nodes": nodes}):
        fast = {
            (r.id, r.component)
            for r in connected_components(edges, **kw2).collect()
        }
        loop = {
            (r.id, r.component)
            for r in connected_components(
                edges, small_graph_edges=0, **kw2
            ).collect()
        }
        assert fast == loop, kw2
    assert (400, 400) in {
        (r.id, r.component)
        for r in connected_components(edges, nodes=nodes).collect()
    }


def test_edit_distance_pairs_complete_vs_quadratic(spark):
    """Randomized completeness: the q-gram + length-band blocking must
    find EVERY pair within the threshold (the count-bound guarantee
    incl. the short-string band), with exact distances — verified
    against a quadratic pure-Python DP over strings spanning both
    sides of the blocking bound (q=2, d=2 -> bound 6)."""
    import random

    from ros_sql_spark.operators.dedup import edit_distance_pairs

    rng = random.Random(909)
    alpha = "abcde"
    strs = {}
    i = 0
    for _ in range(60):
        base = "".join(rng.choice(alpha) for _ in range(rng.randint(2, 12)))
        strs[i] = base
        i += 1
        if rng.random() < 0.5:  # plant a near copy: 1-2 random edits
            s = list(base)
            for _ in range(rng.randint(1, 2)):
                op = rng.choice("sid")
                p = rng.randrange(len(s)) if s else 0
                if op == "s" and s:
                    s[p] = rng.choice(alpha)
                elif op == "i":
                    s.insert(p, rng.choice(alpha))
                elif s:
                    del s[p]
            strs[i] = "".join(s)
            i += 1

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for x in range(1, len(a) + 1):
            cur = [x] + [0] * len(b)
            for y in range(1, len(b) + 1):
                cur[y] = min(prev[y] + 1, cur[y - 1] + 1,
                             prev[y - 1] + (a[x - 1] != b[y - 1]))
            prev = cur
        return prev[-1]

    df = spark.createDataFrame(
        list(strs.items()), "doc_id bigint, text string"
    )
    got = sorted(
        tuple(r) for r in edit_distance_pairs(df, max_dist=2, q=2).collect()
    )
    want = sorted(
        (a, b, lev(strs[a], strs[b]))
        for a in strs
        for b in strs
        if a < b and lev(strs[a], strs[b]) <= 2
    )
    assert got == want
    assert len(want) > 10  # the corpus actually planted pairs


def test_pagerank_matches_reference_power_iteration(spark):
    """operators/graph.py::pagerank equals a pure-Python damped power
    iteration bit-for-bit in expression structure (same op tree; the
    only tolerated difference is inbound-sum addition order, absorbed
    by a 1e-9 tolerance far tighter than the r6 output rounding), mass
    is conserved, and assume_distinct on a pre-distinct edge set
    changes nothing."""
    import pyspark.sql.functions as F

    from ros_sql_spark.operators.graph import pagerank

    # small bipartite both-directions graph: left 0..4, right 10..13
    pairs = [(0, 10), (0, 11), (1, 10), (2, 12), (3, 12), (3, 13),
             (4, 13), (4, 10), (2, 10)]
    edges = [(a, b) for a, b in pairs] + [(b, a) for a, b in pairs]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")

    def ref(n_iter, d=0.85):
        nodes = sorted({x for e in edges for x in e})
        out = {u: sum(1 for s, _ in edges if s == u) for u in nodes}
        p = {u: 1.0 / len(nodes) for u in nodes}
        base = (1.0 - d) / len(nodes)
        for _ in range(n_iter):
            nxt = {}
            for v in nodes:
                s = sum(p[u] / out[u] for u, w in edges if w == v)
                nxt[v] = base + d * s
            p = nxt
        return p

    got = {r.node: r.p for r in pagerank(df, n_iter=3).collect()}
    want = ref(3)
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-9, (k, got[k], want[k])
    assert abs(sum(got.values()) - 1.0) < 1e-9  # mass conserved

    # duplicate edges collapse; assume_distinct skips the dedup shuffle
    dup = df.unionByName(df.limit(5))
    got_dup = {r.node: r.p for r in pagerank(dup, n_iter=3).collect()}
    assert got_dup == got
    got_ad = {
        r.node: r.p
        for r in pagerank(df, n_iter=3, assume_distinct=True).collect()
    }
    assert got_ad == got


def test_triangle_count_matches_bruteforce(spark):
    """Degree-ordered triangle counting equals the brute-force closed-
    wedge count on a random graph with planted cliques (a hub included
    so the degree orientation actually reorders), including duplicate
    and reversed input edges."""
    import itertools
    import random

    from ros_sql_spark.operators.graph import triangle_count

    rnd = random.Random(7)
    edges = set()
    # two planted 5-cliques sharing one vertex + random sparse edges
    for clique in ([1, 2, 3, 4, 5], [5, 6, 7, 8, 9]):
        edges.update(itertools.combinations(clique, 2))
    for _ in range(60):
        a, b = rnd.sample(range(30), 2)
        edges.add((min(a, b), max(a, b)))
    # a hub touching everything
    edges.update((i, 99) for i in range(30))

    def brute(es):
        adj = {}
        for a, b in es:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        nodes = sorted(adj)
        return sum(
            1
            for a, b, c in itertools.combinations(nodes, 3)
            if b in adj[a] and c in adj[a] and c in adj[b]
        )

    rows = [(a, b) for a, b in edges]
    rows += [(b, a) for a, b in list(edges)[:20]]  # reversed dups
    rows += rows[:10]  # exact dups
    df = spark.createDataFrame(rows, "a bigint, b bigint")
    got = triangle_count(df).collect()[0]
    assert got.n_triangles == brute(edges)
    assert got.n_edges == len(edges)
    assert got.n_nodes == len({x for e in edges for x in e})


def test_pagerank_rejects_dangling_nodes(spark):
    """Round-10 review finding: a dst-only node (no out-edge) would
    silently vanish from the score frame and drop its inbound mass —
    the operator must raise, not mis-converge."""
    import pytest

    from ros_sql_spark.operators.graph import pagerank

    dag = spark.createDataFrame([(1, 2), (2, 3)], "src bigint, dst bigint")
    with pytest.raises(ValueError, match="dangling|out-edge"):
        pagerank(dag, n_iter=2)


def test_pagerank_keeps_source_only_nodes(spark):
    """Round-11 advice: a node with out-edges but NO in-edges passes
    the dangling check (it has an out-edge) but the old dst-keyed
    aggregation dropped it from the score frame, returning 2 nodes
    with Σp=0.871 on edges {(1,2),(2,1),(3,2)}.  The iteration is now
    total over the pinned node set: node 3 keeps exactly its teleport
    mass (1-d)/n every round, Σp == 1."""
    from ros_sql_spark.operators.graph import pagerank

    df = spark.createDataFrame(
        [(1, 2), (2, 1), (3, 2)], "src bigint, dst bigint"
    )
    got = {r.node: r.p for r in pagerank(df, n_iter=3).collect()}
    assert set(got) == {1, 2, 3}, got

    def ref(n_iter, d=0.85):
        edges = [(1, 2), (2, 1), (3, 2)]
        nodes = [1, 2, 3]
        out = {u: sum(1 for s, _ in edges if s == u) for u in nodes}
        p = {u: 1.0 / 3 for u in nodes}
        base = (1.0 - d) / 3
        for _ in range(n_iter):
            p = {
                v: base
                + d * sum(p[u] / out[u] for u, w in edges if w == v)
                for v in nodes
            }
        return p

    want = ref(3)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-12, (k, got[k], want[k])
    assert abs(sum(got.values()) - 1.0) < 1e-12
    assert abs(got[3] - 0.05) < 1e-12  # pure teleport mass


def test_topk_sketch_mg_guarantees(spark):
    """Misra–Gries heavy hitters (operators/sketch.py::topk_sketch):
    on adversarial input (zipf-ish skew, an exactly-uniform group
    whose counters all drain, a small exact group) the summary holds
    the published guarantees — c_low ≤ c_true ≤ c_low + err for kept
    keys, c_true ≤ err for absent ones, every key above err present,
    err ≤ N_group/(k+1) — keeps ≤ k+1 rows per group (survivors +
    NULL-key sentinel), and is deterministic across runs."""
    import collections
    import random

    from ros_sql_spark.operators.sketch import topk_sketch

    rnd = random.Random(42)
    rows = [
        ("A", rnd.choice([1] * 40 + [2] * 20 + [3] * 10 + list(range(4, 60))))
        for _ in range(2000)
    ]
    rows += [("B", i % 30) for i in range(300)]  # uniform: all drain
    rows += [("C", i % 3) for i in range(30)]  # < k keys: exact, err 0
    df = spark.createDataFrame(rows, "g string, k bigint")
    k = 8
    got = topk_sketch(df, "g", "k", k=k).collect()

    true = collections.Counter(rows)
    ngroup = collections.Counter(g for g, _ in rows)
    errs = {}
    per_group = collections.Counter()
    for r in got:
        errs.setdefault(r.g, r.err)
        assert r.err == errs[r.g]  # err constant per group
        per_group[r.g] += 1
        if r.k is not None:
            assert r.c_low >= 1
            assert r.c_low <= true[(r.g, r.k)] <= r.c_low + r.err, r
    present = {(r.g, r.k) for r in got if r.k is not None}
    for (g, kk), c in true.items():
        if (g, kk) not in present:
            assert c <= errs[g], (g, kk, c)  # no heavy key missing
    for g, e in errs.items():
        assert e <= ngroup[g] // (k + 1), (g, e)
        assert per_group[g] <= k + 1
    # every group keeps its sentinel, even fully-drained B
    assert {r.g for r in got if r.k is None} == {"A", "B", "C"}
    assert per_group["B"] == 1 and errs["B"] == 10  # uniform: all drained
    # small group is exact
    assert errs["C"] == 0
    cvals = {r.k: r.c_low for r in got if r.g == "C" and r.k is not None}
    assert cvals == {0: 10, 1: 10, 2: 10}
    # determinism
    again = topk_sketch(df, "g", "k", k=k).collect()
    assert sorted(map(repr, got)) == sorted(map(repr, again))


def test_topk_merge_keeps_guarantees_across_chain(spark):
    """streaming/sketch.py::topk_merge — Agarwal et al. mergeable-MG:
    a left fold of merges over 3 chunks keeps every guarantee against
    the EXACT union counts, including the cumulative-error bound
    err ≤ N/(k+1) ((k+1)·Σt ≤ N: each compress subtracts its t from
    at least k+1 counters), and groups whose counters drained mid-chain
    still carry their error through the sentinel."""
    import collections
    import random

    from ros_sql_spark.operators.sketch import topk_sketch
    from ros_sql_spark.streaming.sketch import topk_merge

    rnd = random.Random(7)
    rows = [
        ("A", rnd.choice([1] * 50 + [2] * 25 + list(range(3, 80))))
        for _ in range(3000)
    ]
    rows += [("B", i % 40) for i in range(600)]  # drains every compress
    rows += [("C", rnd.randrange(5)) for _ in range(90)]
    k = 8
    chunks = [rows[0::3], rows[1::3], rows[2::3]]
    sks = [
        topk_sketch(
            spark.createDataFrame(c, "g string, k bigint"), "g", "k", k=k
        )
        for c in chunks
    ]
    m = topk_merge(sks[0], sks[1], "g", "k", k)
    got = topk_merge(m, sks[2], "g", "k", k).collect()

    true = collections.Counter(rows)
    ngroup = collections.Counter(g for g, _ in rows)
    errs = {}
    for r in got:
        errs.setdefault(r.g, r.err)
        assert r.err == errs[r.g]
        if r.k is not None:
            assert r.c_low <= true[(r.g, r.k)] <= r.c_low + r.err, r
    present = {(r.g, r.k) for r in got if r.k is not None}
    for (g, kk), c in true.items():
        if (g, kk) not in present:
            assert c <= errs[g], (g, kk, c)
    for g, e in errs.items():
        assert e <= ngroup[g] // (k + 1), (g, e, ngroup[g])
    assert {r.g for r in got if r.k is None} == {"A", "B", "C"}
    # the fully-drained group's error survived the chain via sentinels
    assert errs["B"] > 0
    assert not any(r.k is not None for r in got if r.g == "B")


def test_qx29_scores_clear_of_rounding_boundaries(spark):
    """qx29's oracle mirrors the float-sum recursion, but partition-
    order float adds could in principle land a round(·,6) boundary
    differently between engines.  Check the margin instead of assuming
    it (round-10 verdict item).  Measuring first (this test's origin):
    at sf0.01 the MINIMUM distance of any N-normalized score to a
    0.5·10⁻⁶ rounding midpoint is ~8e-11 — so the verdict's suggested
    1e-9 margin does NOT hold and is the wrong bar.  The relevant bar
    is the achievable cross-engine drift: scores are sums of ≤ deg
    terms of ~1e-4 magnitude, so addition-order drift is bounded by
    ~n·eps ≈ 1e-15 in the normalized score — orders below the
    measured 8e-11.  Assert distance > 1e-12 (1000× the drift bound,
    comfortably under the data's real margin): a last-ulp difference
    cannot flip any rounded value or the rounded-score+node tiebreak
    cut, and future data/SF changes that erode the margin fail here
    first instead of as a driver hash mismatch."""
    import math

    import pyspark.sql.functions as F

    from ros_sql_spark.operators.graph import pagerank
    from tests.conftest import SF_MEDIUM

    li = spark.read.parquet(f"{SF_MEDIUM}/lineitem.parquet").select(
        "l_orderkey", "l_suppkey"
    )
    orders = spark.read.parquet(f"{SF_MEDIUM}/orders.parquet").select(
        "o_orderkey", "o_custkey"
    )
    pair = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .dropDuplicates(["c", "s"])
    )
    edges = pair.select(
        (F.col("c") * 2).alias("src"), (F.col("s") * 2 + 1).alias("dst")
    ).unionByName(
        pair.select(
            (F.col("s") * 2 + 1).alias("src"), (F.col("c") * 2).alias("dst")
        )
    )
    pr = pagerank(edges, n_iter=3, damping=0.85, assume_distinct=True)
    n = pr.count()
    raw = [r.p * n for r in pr.collect()]
    assert raw
    for x in raw:
        grid = x * 1e6
        dist_to_midpoint = abs((grid - math.floor(grid)) - 0.5) * 1e-6
        assert dist_to_midpoint > 1e-12, (
            f"score {x!r} within 1e-12 of a rounding midpoint"
        )


def test_topk_sketch_excludes_null_keys(spark):
    """Round-11 review finding: a NULL input key would collide with
    the sentinel encoding — surviving as a row every consumer reads as
    the sentinel, and dropped from counters by topk_merge's
    isNotNull() filter (breaking the absent-key bound after one
    merge).  NULL keys are excluded at build: the summary, its error
    and its N are those of the non-null-key rows only, and merges of
    null-heavy chunks stay sound."""
    import collections

    from ros_sql_spark.operators.sketch import topk_sketch
    from ros_sql_spark.streaming.sketch import topk_merge

    rows = [("A", None)] * 500 + [("A", i % 10) for i in range(200)]
    rows += [("B", None)] * 50  # group with ONLY null keys
    df = spark.createDataFrame(rows, "g string, k bigint")
    k = 4
    got = topk_sketch(df, "g", "k", k=k).collect()
    # B contributed nothing countable: no rows at all (not even a
    # sentinel), and A's err reflects only its 200 non-null rows
    assert {r.g for r in got} == {"A"}
    errs = {r.err for r in got}
    assert all(e <= 200 // (k + 1) for e in errs), errs
    true = collections.Counter(kk for g, kk in rows if g == "A" and kk is not None)
    for r in got:
        if r.k is not None:
            assert r.c_low <= true[r.k] <= r.c_low + r.err, r
    # merge of two null-heavy chunks keeps the guarantees
    sks = [
        topk_sketch(
            spark.createDataFrame(rows[i::2], "g string, k bigint"),
            "g", "k", k=k,
        )
        for i in range(2)
    ]
    m = topk_merge(sks[0], sks[1], "g", "k", k).collect()
    merr = {r.g: r.err for r in m}
    present = {(r.g, r.k) for r in m if r.k is not None}
    for kk, c in true.items():
        if ("A", kk) in present:
            row = next(r for r in m if r.g == "A" and r.k == kk)
            assert row.c_low <= c <= row.c_low + row.err
        else:
            assert c <= merr["A"], (kk, c, merr)


# ---------------------------------------------------------------------------
# round-16 ADVICE closures
# ---------------------------------------------------------------------------


def test_remove_boilerplate_rejects_single_token_passages(spark, docs):
    """passage_tokens=1 voids the closed-form empty-passage arithmetic
    (mid-document '' tokens would form keepable empty passages) — the
    operator must fail loudly instead of silently diverging."""
    from ros_sql_spark.operators.dedup import remove_boilerplate

    with pytest.raises(ValueError, match="passage_tokens"):
        remove_boilerplate(docs, passage_tokens=1, max_doc_freq=2)
    # the supported regime is untouched
    remove_boilerplate(docs, passage_tokens=2, max_doc_freq=2)


def test_bigint_partial_margin_guard(spark):
    """The q11/qx61 two-level BIGINT partials bound per-task sums by
    rows-per-task x per-row-term < 2^63; a maxPartitionBytes drift that
    voids the bound must fail at plan build, not wrap at runtime."""
    from ros_sql_spark.functions.util import assert_bigint_partial_margin

    # holds at the session default (128m-1g class splits)
    assert_bigint_partial_margin(spark, per_row_max=5 * 10**10)
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "64g")
        with pytest.raises(AssertionError, match="maxPartitionBytes"):
            assert_bigint_partial_margin(spark, per_row_max=5 * 10**10)
    finally:
        spark.conf.set(key, old)


def test_release_local_checkpoints_frees_storage(spark):
    """release_local_checkpoints drops the checkpoint RDD's blocks (the
    streaming per-batch reclaim) and no-ops harmlessly on plain frames."""
    from ros_sql_spark.functions.util import release_local_checkpoints

    df = (
        spark.range(1000)
        .selectExpr("id", "id * 2 AS y")
        .localCheckpoint(eager=False)
    )
    assert df.count() == 1000  # materialize the pin
    plan = df._jdf.queryExecution().analyzed()
    assert plan.getClass().getSimpleName() == "LogicalRDD"
    assert plan.rdd().getStorageLevel().useMemory()
    release_local_checkpoints(df, spark.range(3))  # plain frame: no-op
    lvl = plan.rdd().getStorageLevel()
    assert not (lvl.useMemory() or lvl.useDisk())


def test_setsim_incremental_pins_out_release(spark, docs):
    """pins_out hands the operator's per-batch checkpoint to the caller;
    releasing it AFTER the consuming action is safe and the output is
    unchanged (the streaming ingest reclaim path)."""
    from ros_sql_spark.functions.util import release_local_checkpoints
    from ros_sql_spark.operators.dedup import (
        setsim_index,
        setsim_join_incremental,
    )

    base = docs.filter(F.col("doc_id") % 4 != 0)
    new = docs.filter(F.col("doc_id") % 4 == 0)
    idx = setsim_index(base, threshold=0.5, k=5)
    expected = setsim_join_incremental(
        new, idx, threshold=0.5, k=5
    ).collect()
    pins: list = []
    got = setsim_join_incremental(
        new, idx, threshold=0.5, k=5, pins_out=pins
    ).collect()
    assert len(pins) == 1
    release_local_checkpoints(*pins)
    assert sorted(map(tuple, got)) == sorted(map(tuple, expected))
