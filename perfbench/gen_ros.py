"""Seeded generator of multiplexed, nested ROS-style message streams.

One message (FIXTURES.md Part B shape) carries header fields, a
nanosecond stamp split into (secs, nsecs) with sub-microsecond values, two
levels of nested structs, a float array, an array of structs with empty
and NULL cases, and a binary blob.  ``operators.normalize`` shreds it into
six tables per topic: the root, ``pose``, ``pose.position``,
``pose.orientation``, ``ranges`` and ``points``.

The stream multiplexes every topic in timestamp order and is cut into
parquet files of ``per_file`` messages; a file-source stream with
``maxFilesPerTrigger=1`` turns each file into one micro-batch.  The
program under test receives only these files.

Usage:
    python3 perfbench/gen_ros.py --seed 7 --out DIR [--topics 4]
        [--messages 600] [--per-file 200] [--max-ranges 24]
        [--max-points 6] [--blob-bytes 64] [--null-frac 0.1]
"""

from __future__ import annotations

import argparse
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TOPIC_COL = "topic"
KEY_COLS = ["seq"]
TS_COL = "ts_ns"

_POINT = pa.struct([("x", pa.float64()), ("y", pa.float64()), ("z", pa.float64())])
_QUAT = pa.struct(
    [("x", pa.float64()), ("y", pa.float64()), ("z", pa.float64()), ("w", pa.float64())]
)
MESSAGE_SCHEMA = pa.schema(
    [
        ("seq", pa.int64()),
        ("ts_ns", pa.int64()),
        ("stamp_secs", pa.int64()),
        ("stamp_nsecs", pa.int64()),
        ("frame_id", pa.string()),
        ("pose", pa.struct([("position", _POINT), ("orientation", _QUAT)])),
        ("ranges", pa.list_(pa.float32())),
        ("points", pa.list_(_POINT)),
        ("raw", pa.binary()),
    ]
)
STREAM_SCHEMA = pa.schema([(TOPIC_COL, pa.string()), *MESSAGE_SCHEMA])

# 2024-01-01T00:00:00Z; messages arrive ~1 ms apart with ns jitter
_T0_NS = 1_704_067_200_000_000_000


@dataclass(frozen=True)
class RosParams:
    topics: int = 4
    messages: int = 600  # per topic
    per_file: int = 200  # messages per file = micro-batch
    max_ranges: int = 24  # float array length 0..max_ranges
    max_points: int = 6  # struct array length 0..max_points
    blob_bytes: int = 64  # blob length 0..blob_bytes
    null_frac: float = 0.1  # share of NULL arrays, and of empty ones


def topic_names(n: int) -> list[str]:
    return [f"/robot{i}/scan" for i in range(n)]


def _array(rng, n_rows, max_len, null_frac, make):
    """Variable-length arrays: ~null_frac NULL, ~null_frac empty."""
    out = []
    kind = rng.random(n_rows)
    for k in kind:
        if k < null_frac:
            out.append(None)
        elif k < 2 * null_frac:
            out.append([])
        else:
            out.append(make(int(rng.integers(1, max_len + 1))))
    return out


def _topic_messages(rng, n: int, p: RosParams) -> dict[str, list]:
    # strictly increasing, sub-microsecond stamps: 1 ms steps plus a
    # jitter that is rarely a whole number of microseconds
    ts = _T0_NS + np.cumsum(rng.integers(500_000, 1_500_000, n, dtype=np.int64))
    pos = rng.normal(size=(n, 3)).round(6)
    quat = rng.normal(size=(n, 4)).round(6)

    def ranges(k):
        return rng.random(k, dtype=np.float32).tolist()

    def points(k):
        xyz = rng.normal(size=(k, 3)).round(6)
        return [{"x": a, "y": b, "z": c} for a, b, c in xyz.tolist()]

    blob_len = rng.integers(0, p.blob_bytes + 1, n)
    return {
        "seq": list(range(n)),
        "ts_ns": ts.tolist(),
        "stamp_secs": (ts // 1_000_000_000).tolist(),
        "stamp_nsecs": (ts % 1_000_000_000).tolist(),
        "frame_id": [f"base_link_{i % 3}" for i in range(n)],
        "pose": [
            {
                "position": dict(zip("xyz", a)),
                "orientation": dict(zip("xyzw", b)),
            }
            for a, b in zip(pos.tolist(), quat.tolist())
        ],
        "ranges": _array(rng, n, p.max_ranges, p.null_frac, ranges),
        "points": _array(rng, n, p.max_points, p.null_frac, points),
        "raw": [rng.bytes(int(k)) for k in blob_len],
    }


def generate(seed: int, p: RosParams) -> pa.Table:
    """The multiplexed stream as one table, in (ts_ns, topic) order."""
    rng = np.random.default_rng(seed)
    parts = []
    for topic in topic_names(p.topics):
        cols = _topic_messages(rng, p.messages, p)
        cols = {TOPIC_COL: [topic] * p.messages, **cols}
        parts.append(pa.Table.from_pydict(cols, schema=STREAM_SCHEMA))
    table = pa.concat_tables(parts)
    return table.sort_by([(TS_COL, "ascending"), (TOPIC_COL, "ascending")])


def write_files(table: pa.Table, out_dir: str, per_file: int) -> list[str]:
    """Cut the stream into consecutive files of ``per_file`` messages."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for i, start in enumerate(range(0, table.num_rows, per_file)):
        path = os.path.join(out_dir, f"part-{i:05d}.parquet")
        pq.write_table(table.slice(start, per_file), path)
        paths.append(path)
    return paths


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    d = RosParams()
    ap.add_argument("--topics", type=int, default=d.topics)
    ap.add_argument("--messages", type=int, default=d.messages)
    ap.add_argument("--per-file", type=int, default=d.per_file)
    ap.add_argument("--max-ranges", type=int, default=d.max_ranges)
    ap.add_argument("--max-points", type=int, default=d.max_points)
    ap.add_argument("--blob-bytes", type=int, default=d.blob_bytes)
    ap.add_argument("--null-frac", type=float, default=d.null_frac)
    a = ap.parse_args(argv)
    p = RosParams(
        a.topics, a.messages, a.per_file, a.max_ranges, a.max_points, a.blob_bytes,
        a.null_frac,
    )
    paths = write_files(generate(a.seed, p), a.out, p.per_file)
    print(f"{len(paths)} files, {p.topics * p.messages} messages -> {a.out}")


if __name__ == "__main__":
    main()
