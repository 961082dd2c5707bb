"""ROS time split/recombine (reference R8 — SURVEY.md §2.1).

The reference stores every ROS ``time``/``duration`` as two integer
columns (secs, nsecs) and recombines them on read, preserving nanosecond
resolution end-to-end.  Spark's TimestampType is microsecond-resolution,
so the engine's lossless representation is:

    ns long  ⇄  (secs BIGINT, nsecs BIGINT)          [exact, reference shape]
    ns long  →  TimestampType (µs, floored) + ns remainder   [Spark-native]

All arithmetic is integer (``div``/``pmod``); float division corrupts
ns epochs beyond double's 53-bit mantissa.
"""

from __future__ import annotations

from pyspark.sql import Column
import pyspark.sql.functions as F

__all__ = [
    "split_ns",
    "combine_ns",
    "ns_to_timestamp",
    "ns_remainder_us",
    "timestamp_to_ns",
]

NS_PER_SEC = 1_000_000_000
NS_PER_US = 1_000


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def _idiv(a: Column, b: Column) -> Column:
    """Exact integer division (SQL ``div``). Never use ``/`` on ns epochs:
    Divide promotes to double, whose 53-bit mantissa corrupts values
    beyond ~9e15 (ns epochs are ~1.7e18)."""
    return F.call_function("div", a, b)


def split_ns(ns_col: Column | str) -> tuple[Column, Column]:
    """ns-since-epoch long → (secs, nsecs) exactly (reference storage shape)."""
    ns = _c(ns_col)
    secs = _idiv(ns - F.pmod(ns, F.lit(NS_PER_SEC)), F.lit(NS_PER_SEC))
    return secs.cast("bigint"), F.pmod(ns, F.lit(NS_PER_SEC)).cast("bigint")


def combine_ns(secs_col: Column | str, nsecs_col: Column | str) -> Column:
    """(secs, nsecs) → ns-since-epoch long, exactly."""
    return (_c(secs_col).cast("bigint") * F.lit(NS_PER_SEC)) + _c(nsecs_col).cast(
        "bigint"
    )


def ns_to_timestamp(ns_col: Column | str) -> Column:
    """ns long → Spark TimestampType at µs resolution (floored).

    Lossy by itself — pair with ns_remainder_us for losslessness.
    """
    ns = _c(ns_col)
    us = _idiv(ns - F.pmod(ns, F.lit(NS_PER_US)), F.lit(NS_PER_US))
    return F.timestamp_micros(us.cast("bigint"))


def ns_remainder_us(ns_col: Column | str) -> Column:
    """The sub-µs nanoseconds (0..999) a Spark timestamp cannot hold."""
    return F.pmod(_c(ns_col), F.lit(NS_PER_US)).cast("bigint")


def timestamp_to_ns(ts_col: Column | str, rem_col: Column | str | None = None) -> Column:
    """TimestampType (+ optional ns remainder) → ns long."""
    ns = F.unix_micros(_c(ts_col)) * F.lit(NS_PER_US)
    if rem_col is not None:
        ns = ns + _c(rem_col).cast("bigint")
    return ns

