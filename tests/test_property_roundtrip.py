"""Property-based roundtrip tests (hypothesis): arbitrary nested rows —
including adversarial values hypothesis finds (empty strings, extreme
ints, NaN-free floats, empty/None arrays, zero-length blobs) — must
survive normalize→denormalize and record→playback exactly.
Complements the fixed F1–F3 fixtures with generated shapes."""

from __future__ import annotations
import uuid

import pytest

from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import types as T

from ros_sql_spark.api import paced_replay, playback, record
from ros_sql_spark.operators.normalize import denormalize, normalize
from ros_sql_spark.sources.io import load_table
from tests.conftest import SF_SMALL, prop_examples

SCHEMA = T.StructType(
    [
        T.StructField("pk", T.LongType(), False),
        T.StructField("name", T.StringType()),
        T.StructField("vals", T.ArrayType(T.DoubleType())),
        T.StructField("blob", T.BinaryType()),
        T.StructField(
            "inner",
            T.StructType(
                [
                    T.StructField("a", T.LongType()),
                    T.StructField("tags", T.ArrayType(T.StringType())),
                ]
            ),
        ),
    ]
)

finite_double = st.floats(allow_nan=False, allow_infinity=False, width=64)
text = st.text(alphabet=st.characters(codec="utf-8", categories=("L", "N", "P", "Z")), max_size=20)

row = st.tuples(
    st.just(0),  # pk replaced with index below
    st.one_of(st.none(), text),
    st.one_of(st.none(), st.lists(finite_double, max_size=6)),
    st.one_of(st.none(), st.binary(max_size=16)),
    st.one_of(
        st.none(),
        st.tuples(
            st.one_of(st.none(), st.integers(-(2**62), 2**62)),
            st.one_of(st.none(), st.lists(text, max_size=4)),
        ),
    ),
)


@settings(
    max_examples=prop_examples(5),
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(rows=st.lists(row, min_size=1, max_size=25))
def test_generated_rows_roundtrip(spark, tmp_path, rows):
    rows = [(i, *r[1:]) for i, r in enumerate(rows)]  # unique pk
    df = spark.createDataFrame(rows, SCHEMA)
    rebuilt = denormalize(normalize(df, ["pk"]))
    left = sorted(map(repr, (r.asDict(recursive=True) for r in df.collect())))
    right = sorted(map(repr, (r.asDict(recursive=True) for r in rebuilt.collect())))
    assert left == right
    assert rebuilt.schema == df.schema
    # the same rows through the on-disk store: record → playback
    store = str(tmp_path / uuid.uuid4().hex)
    record(spark, {"/gen": df}, store, key_cols=["pk"], ts_col=None)
    replayed = playback(spark, store, "/gen").collect()
    assert sorted(map(repr, (r.asDict(recursive=True) for r in replayed))) == left


def test_paced_replay_delays_match_timestamps(spark):
    ev = (
        load_table(spark, SF_SMALL, "events")
        .select("event_id", "ts_ns")
        .orderBy("ts_ns")
        .limit(20)
    )
    out = list(paced_replay(ev, speedup=1000.0))
    assert len(out) == 20
    assert out[0][0] == 0.0
    ts = [r.ts_ns for _, r in out]
    assert ts == sorted(ts)
    for (sleep, _), prev_t, t in zip(out[1:], ts, ts[1:]):
        assert abs(sleep - (t - prev_t) / 1e9 / 1000.0) < 1e-9


# ------------------------------------------------------- codec properties
@given(
    h=st.integers(1, 12),
    w=st.integers(1, 12),
    ch=st.sampled_from([3, 4]),
    data=st.data(),
)
@settings(max_examples=40, deadline=None)
def test_png_roundtrip_property(h, w, ch, data):
    """PNG must roundtrip BIT-EXACTLY for arbitrary pixel content and
    arbitrary per-row filter choices (every unfilter branch, arbitrary
    interleavings — the fixed-seed tests can't cover this space)."""
    import numpy as np

    from ros_sql_spark.operators.codecs import decode_png, encode_png

    px = np.array(
        data.draw(
            st.lists(
                st.integers(0, 255),
                min_size=h * w * ch,
                max_size=h * w * ch,
            )
        ),
        dtype=np.uint8,
    ).reshape(h, w, ch)
    filters = data.draw(
        st.lists(st.integers(0, 4), min_size=1, max_size=h)
    )
    out = decode_png(encode_png(px, filters))
    assert np.array_equal(out, px[..., :3])


@given(
    n=st.integers(0, 120),
    k=st.integers(1, 16),
    salts=st.integers(1, 8),
    data=st.data(),
)
@settings(max_examples=prop_examples(25), deadline=None)
@pytest.mark.slow  # >=10s in the r11 duration profile
def test_kmv_bottom_k_property(spark, n, k, salts, data):
    """The two-phase salted bottom-k must equal the exact sorted-prefix
    bottom-k for ANY member multiset, k, and salt count — and the
    estimate must be exact whenever the sketch holds the whole set."""
    from ros_sql_spark.operators.sketch import (
        kmv_estimate,
        kmv_hash,
        kmv_sketch,
    )

    members = data.draw(
        st.lists(st.integers(-(2**40), 2**40), min_size=n, max_size=n)
    )
    import pyspark.sql.functions as F

    df = spark.createDataFrame(
        [("s", m) for m in members] or [("s", 0)], "s string, m long"
    ).limit(len(members))
    if not members:
        assert kmv_sketch(df, "s", "m", k=k, salts=salts).count() == 0
        return
    got = sorted(
        r.h for r in kmv_sketch(df, "s", "m", k=k, salts=salts).collect()
    )
    exact = sorted(
        r.h
        for r in df.select(kmv_hash(F.col("m")).alias("h"))
        .distinct()
        .orderBy("h")
        .limit(k)
        .collect()
    )
    assert got == exact
    n_distinct = len(set(members))
    if n_distinct < k:
        est = kmv_estimate(
            kmv_sketch(df, "s", "m", k=k, salts=salts), "s", k=k
        ).collect()[0].est
        assert est == float(n_distinct)
