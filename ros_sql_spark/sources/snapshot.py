"""Manifest-based snapshot tables: atomic commits over plain parquet.

``sources/maintenance.py`` documents the one gap plain parquet
directories cannot close: partition replacement (compaction, rollup
upserts) is only as atomic as the commit protocol's file moves, so a
reader racing a rewrite can see a partition mid-swap.  Table formats
(Iceberg/Delta — public designs) close it with an indirection: readers
never list directories, they read a MANIFEST naming the exact data
files of a snapshot, and a commit is one atomic manifest publication.
This module is that indirection in its minimal honest form — no new
dependencies, Spark-native IO, the same concepts (snapshot isolation,
optimistic concurrency, time travel, vacuum) at engine-appropriate
scope:

- data files are immutable: every commit WRITES NEW FILES under a
  WRITER-UNIQUE staging directory ``data/v<N>-<token>/`` and publishes
  ``_manifests/v<N>.json`` listing the full file set of snapshot N
  (carried-over files are listed by path, not copied — a metadata-only
  operation, like Iceberg manifests).  The per-writer token matters:
  two writers racing for the same version never share a directory, so
  the winner's manifest can never accidentally list the loser's part
  files (the loser's staging dir becomes unreferenced garbage that the
  next vacuum reclaims);
- the manifest is published ATOMICALLY: the full JSON body is written
  to a hidden temp file, closed, then renamed to ``v<N>.json`` with
  rename-without-overwrite (``FileContext.rename(…, Rename.NONE)``).
  Readers therefore never observe an empty or half-written manifest,
  a crash before the rename leaves only an invisible temp file, and
  two racing writers on the same version — one wins the rename, the
  loser gets a clean :class:`SnapshotConflict` (optimistic
  concurrency); any non-conflict IO failure propagates unchanged;
- readers resolve the latest manifest ONCE per read and then scan only
  its files: a concurrent commit cannot change a running query's file
  set (snapshot isolation), and old snapshots stay readable
  (``version=`` time travel) until ``vacuum``;
- ``vacuum`` deletes data files unreachable from the kept manifests —
  the ONLY deleting operation, explicitly invoked, never part of a
  commit.

Exactly-once batch watermark (the batch-id idempotent sink of
Structured Streaming): a micro-batch commits with tag ``batch:<id>``;
every manifest carries ``last_batch``, the monotone max of the previous
manifest's watermark and its own tag's id (untagged commits carry it
forward unchanged); a replayed batch whose id the head's watermark
already covers is skipped.  A batch committed by a named writer (tag
``batch:<id>@<writer>``, Delta's txn appId idea) also raises that
writer's entry in ``writer_batches``, and a writer's replay is checked
against its own entry only, so a new writer starting again at batch 0
is not mistaken for a replay of an old one.  The rule lives HERE and
nowhere else: :func:`_next_manifest` is the only constructor of a
manifest record, :func:`_committed_batch` the only reader of its
watermark, and the batch sinks (:func:`snapshot_append_batch`,
:func:`snapshot_fold_batch`) and the multi-table crash-recovery reader
(:func:`snapshot_pre_state`) all go through them.

Caveat (honest): create-exclusive is atomic on HDFS-like filesystems
and local disk; object stores without atomic create-if-absent (plain
S3) need an external lock or a DynamoDB-style conditional put — the
same caveat Delta's S3 story has.  The 100 TB shape is unchanged:
manifests are O(files) JSON metadata; data moves only when a commit
actually rewrites rows.
"""

from __future__ import annotations

import json
import uuid
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

__all__ = [
    "snapshot_commit",
    "snapshot_read",
    "snapshot_versions",
    "snapshot_meta",
    "snapshot_vacuum",
    "snapshot_append_batch",
    "snapshot_compact",
    "snapshot_merge",
    "snapshot_delete",
    "snapshot_fold_batch",
    "snapshot_pre_state",
    "snapshot_watermark",
    "SnapshotConflict",
]

_MANIFEST_DIR = "_manifests"


class SnapshotConflict(RuntimeError):
    """Another writer published this version first (optimistic
    concurrency): re-read the latest snapshot and retry the commit."""


def _fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p, jvm


def _list_versions(spark: SparkSession, table: str) -> list[int]:
    fs, _, jvm = _fs(spark, table)
    mdir = jvm.org.apache.hadoop.fs.Path(f"{table}/{_MANIFEST_DIR}")
    if not fs.exists(mdir):
        return []
    out = []
    for st in fs.listStatus(mdir):
        name = st.getPath().getName()
        if name.startswith("v") and name.endswith(".json"):
            out.append(int(name[1:-5]))
    return sorted(out)


def _read_manifest(spark: SparkSession, table: str, version: int) -> dict:
    fs, _, jvm = _fs(spark, table)
    p = jvm.org.apache.hadoop.fs.Path(
        f"{table}/{_MANIFEST_DIR}/v{version:05d}.json"
    )
    stream = fs.open(p)
    try:
        # ONE py4j round trip for the whole file: a manifest is O(files)
        # JSON — at 10⁴ files that is ~1 MB, and a byte-per-call py4j
        # loop would take minutes (measured class of bug); copyBytes
        # runs wholly JVM-side.
        bos = jvm.java.io.ByteArrayOutputStream()
        jvm.org.apache.hadoop.io.IOUtils.copyBytes(stream, bos, 65536, False)
        data = bytes(bos.toByteArray())
    finally:
        stream.close()
    return json.loads(data.decode("utf-8"))


def _head(spark: SparkSession, table: str) -> tuple[int, dict]:
    """(latest version, its manifest); ``(0, {})`` for a table with no
    snapshot yet — the version lookup of every batch sink, pinned as
    their commit's ``expected_version``."""
    versions = _list_versions(spark, table)
    if not versions:
        return 0, {}
    return versions[-1], _read_manifest(spark, table, versions[-1])


def _tag_batch(tag: str | None) -> tuple[int | None, str | None]:
    """(batch id, writer) of a ``batch:<id>[@<writer>]`` tag; the writer
    is None for an unnamed one, both are None for any other tag."""
    if tag is None or not tag.startswith("batch:"):
        return None, None
    batch, _, writer = tag[6:].partition("@")
    return int(batch), writer or None


def _committed_batch(manifest: dict) -> int | None:
    """The batch watermark of one manifest — THE reader: its
    ``last_batch``, else (manifests from before ``last_batch`` existed)
    the id of its ``batch:<id>`` tag, else None."""
    lb = manifest.get("last_batch")
    return lb if lb is not None else _tag_batch(manifest.get("tag"))[0]


def _covers(manifest: dict, batch_id: int, writer: str | None = None) -> bool:
    """Whether ``manifest``'s watermark already covers ``batch_id`` (a
    replayed batch: skip it).  With a ``writer`` only that writer's own
    entry counts; ``last_batch`` is not consulted."""
    if writer is None:
        lb = _committed_batch(manifest)
    else:
        lb = manifest.get("writer_batches", {}).get(writer)
    return lb is not None and lb >= batch_id


def _next_manifest(
    prev: dict,
    version: int,
    files: list[str],
    schema_json: str,
    *,
    new_stats: dict | None = None,
    stats_cols: list[str] | None = None,
    tag: str | None = None,
    meta: dict | None = None,
) -> dict:
    """The manifest record of ``version`` on top of ``prev`` (the
    previous head's manifest, ``{}`` for a new table) — the ONLY
    constructor of a manifest, so every carry-forward rule lives in one
    place.  Pure dict work (no JVM).

    - ``stats_cols`` is sticky: None inherits ``prev``'s;
    - files carried from ``prev`` keep their recorded stats,
      ``new_stats`` covers this commit's new files;
    - ``meta`` carries forward unless replaced;
    - ``last_batch`` is the monotone max of ``prev``'s watermark and a
      ``batch:<id>`` ``tag`` — every commit carries it, so an
      interleaved untagged commit (manual append, compaction, DML)
      cannot hide the watermark from a redelivered batch;
    - ``writer_batches`` maps each named writer to its last batch id:
      a ``batch:<id>@<writer>`` ``tag`` raises that writer's entry and
      every other commit carries the map unchanged.
    """
    manifest = {
        "version": version, "files": list(files), "schema": schema_json
    }
    if stats_cols is None:
        stats_cols = prev.get("stats_cols")
    if stats_cols:
        prev_stats = prev.get("stats", {})
        stats = {f: prev_stats[f] for f in files if f in prev_stats}
        stats.update(new_stats or {})
        manifest["stats_cols"] = list(stats_cols)
        if stats:
            manifest["stats"] = stats
    if meta is None:
        meta = prev.get("meta")
    if meta is not None:
        manifest["meta"] = meta
    if tag is not None:
        manifest["tag"] = tag
    batch, writer = _tag_batch(tag)
    batches = [b for b in (_committed_batch(prev), batch) if b is not None]
    if batches:
        manifest["last_batch"] = max(batches)
    writers = dict(prev.get("writer_batches", {}))
    if writer is not None:
        writers[writer] = max(batch, writers.get(writer, batch))
    if writers:
        manifest["writer_batches"] = writers
    return manifest


def _publish_manifest(
    spark: SparkSession, table: str, version: int, manifest: dict
) -> None:
    """Atomic commit point: write the COMPLETE manifest body to a hidden
    temp file, then rename-without-overwrite onto ``v<N>.json``.

    The rename is the single atomic step — readers either see no
    manifest or a complete one (no torn reads), a crash pre-rename
    strands only a dot-prefixed temp file that ``_list_versions``
    ignores, and a same-version race is decided by the filesystem:
    exactly one rename lands, the other raises FileAlreadyExists which
    is mapped — and ONLY it — to :class:`SnapshotConflict`.  Permission
    or transient IO errors re-raise unchanged so callers never retry an
    unretryable failure.  (Same caveat as the module header: object
    stores without atomic rename need an external commit coordinator.)
    """
    fs, _, jvm = _fs(spark, table)
    final = jvm.org.apache.hadoop.fs.Path(
        f"{table}/{_MANIFEST_DIR}/v{version:05d}.json"
    )
    tmp = jvm.org.apache.hadoop.fs.Path(
        f"{table}/{_MANIFEST_DIR}/.tmp-v{version:05d}-{uuid.uuid4().hex}.json"
    )
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(json.dumps(manifest, indent=1).encode("utf-8")))
    finally:
        out.close()
    fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(
        final.toUri(), spark._jsc.hadoopConfiguration()
    )
    ren_cls = jvm.org.apache.hadoop.fs.Options.Rename
    no_overwrite = spark.sparkContext._gateway.new_array(ren_cls, 1)
    no_overwrite[0] = ren_cls.NONE
    try:
        fc.rename(tmp, final, no_overwrite)
    except Exception as exc:  # narrow below: conflict vs real IO error
        fs.delete(tmp, False)
        je = getattr(exc, "java_exception", None)
        name = je.getClass().getName() if je is not None else ""
        if name.endswith("FileAlreadyExistsException") or fs.exists(final):
            raise SnapshotConflict(
                f"version {version} already published at {table}"
            ) from exc
        raise


def _data_files(spark: SparkSession, root: str) -> list[str]:
    fs, p, _ = _fs(spark, root)
    out = []
    it = fs.listFiles(p, True)
    while it.hasNext():
        st = it.next()
        name = st.getPath().getName()
        if not name.startswith("_") and not name.startswith("."):
            out.append(st.getPath().toString())
    return sorted(out)


def snapshot_versions(spark: SparkSession, table: str) -> list[int]:
    """All published snapshot versions, ascending."""
    return _list_versions(spark, table)


def snapshot_meta(
    spark: SparkSession, table: str, version: int | None = None
) -> dict | None:
    """The carried ``meta`` binding of a snapshot (latest by default) —
    see ``snapshot_commit(meta=...)``.  None if the table never
    recorded one."""
    versions = _list_versions(spark, table)
    if not versions:
        raise FileNotFoundError(f"no snapshots at {table}")
    v = version if version is not None else versions[-1]
    if v not in versions:
        raise FileNotFoundError(f"version {v} not in {versions}")
    return _read_manifest(spark, table, v).get("meta")


class _HadoopReadable:
    """Minimal seekable file-like over a Hadoop ``FSDataInputStream`` so
    pyarrow can parse parquet FOOTERS on any Hadoop-supported filesystem
    (HDFS/S3A/...), not just local paths.

    FOOTER-READ shaped by design: ``read(n)`` copies from the current
    position to EOF JVM-side and slices the first ``n`` bytes in Python.
    py4j cannot reach the bounded ``IOUtils.copyBytes(…, long count, …)``
    overload (a Python int resolves to the ``int buffSize`` whole-stream
    overload — measured: read(16) returned the whole file), and parquet
    metadata access only ever reads suffixes (the speculative ~64 KB
    tail, then footer+8 bytes), so copy-to-EOF costs exactly the bytes
    pyarrow wants.  Do NOT use this adapter for sequential scans from
    the front of a large file — each read would copy the remaining
    file."""

    def __init__(self, spark: SparkSession, path: str):
        fs, p, jvm = _fs(spark, path)
        self._jvm = jvm
        self._len = fs.getFileStatus(p).getLen()
        self._in = fs.open(p)
        self._pos = 0
        self.closed = False

    def size(self) -> int:
        return self._len

    def tell(self) -> int:
        return self._pos

    def seek(self, offset: int, whence: int = 0) -> int:
        if whence == 0:
            self._pos = offset
        elif whence == 1:
            self._pos += offset
        else:
            self._pos = self._len + offset
        return self._pos

    def read(self, n: int = -1) -> bytes:
        if n is None or n < 0:
            n = self._len - self._pos
        n = max(0, min(n, self._len - self._pos))
        if n == 0:
            return b""
        self._in.seek(self._pos)
        bos = self._jvm.java.io.ByteArrayOutputStream()
        # copies position→EOF (see class docstring: the bounded long-
        # count overload is unreachable from py4j); slice to the n
        # bytes the caller asked for
        self._jvm.org.apache.hadoop.io.IOUtils.copyBytes(
            self._in, bos, 65536, False
        )
        data = bytes(bos.toByteArray())[:n]
        self._pos += len(data)
        return data

    def readable(self) -> bool:
        return True

    def seekable(self) -> bool:
        return True

    def writable(self) -> bool:
        return False

    def close(self) -> None:
        self._in.close()
        self.closed = True


def _parquet_metadata(spark: SparkSession, path: str):
    """Parquet footer metadata for ``path`` on ANY filesystem: local
    paths (no scheme / ``file:``) open directly through pyarrow (fast
    path, zero py4j); remote schemes go through :class:`_HadoopReadable`
    so HDFS/S3 commits get the same zero-row exclusion and data-skipping
    stats as local ones instead of silently recording none."""
    import pyarrow.parquet as papq

    if path.startswith("file:"):
        return papq.ParquetFile(path[5:]).metadata
    if "://" not in path and not path.startswith(("hdfs:", "s3:")):
        return papq.ParquetFile(path).metadata
    f = _HadoopReadable(spark, path)
    try:
        return papq.ParquetFile(f).metadata
    finally:
        f.close()


def _scan_footers(
    spark: SparkSession, paths: list[str], cols: list[str] | None
) -> tuple[list[str], dict]:
    """ONE parquet footer read per file serving BOTH commit-time needs
    (round-8 review: the split _nonempty_files + _file_stats pair read
    every footer twice — two driver round trips per file on an object
    store): zero-row part files are excluded (Spark writes one empty
    part for an empty frame, and a stat-less empty file is an eternal
    keyed-DML rewrite candidate — the non-idempotent-expire bug class),
    and per-file column stats for ``cols`` are aggregated across row
    groups.

    This is the data-skipping substrate Iceberg/Delta manifests carry
    (public designs): O(files) tiny footer reads at commit time buy
    file-level pruning at every subsequent read.  The scan runs
    driver-side over THIS COMMIT's files only (a commit writes a
    bounded file count; carried files keep their previously recorded
    stats).

    Stats entry format: ``[lo, hi]`` or ``[lo, hi, null_count]`` —
    null_count recorded only when EVERY row group reports one.  The
    retention fast path (:func:`_file_all_match`) requires a KNOWN
    ZERO null count before dropping a file blind: parquet min/max
    exclude NULLs, and ANSI DELETE keeps NULL-predicate rows — a blind
    containment drop was silently deleting them (round-8 review).
    Columns whose footer lacks usable min/max are absent for that file
    (readers treat as "never prune"); unreadable footers KEEP the file
    and record no stats (safe default: unprunable, never blind-dropped).
    Values are stored JSON-native (int/float/str/bool).
    """
    keep: list[str] = []
    stats: dict = {}
    for p in paths:
        try:
            md = _parquet_metadata(spark, p)
        except Exception:
            keep.append(p)
            continue
        if md.num_rows == 0:
            continue
        keep.append(p)
        if not cols:
            continue
        name_to_idx = {
            md.schema.column(i).name: i for i in range(md.num_columns)
        }
        fstats: dict = {}
        for c in cols:
            ci = name_to_idx.get(c)
            if ci is None:
                continue
            lo = hi = None
            ok = True
            nulls = 0
            nulls_known = True
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(ci).statistics
                if st is None or not st.has_min_max:
                    ok = False
                    break
                mn, mx = st.min, st.max
                if not isinstance(mn, (int, float, str, bool)) or not isinstance(
                    mx, (int, float, str, bool)
                ):
                    ok = False
                    break
                lo = mn if lo is None else min(lo, mn)
                hi = mx if hi is None else max(hi, mx)
                nc = st.null_count if st.has_null_count else None
                if nc is None:
                    nulls_known = False
                else:
                    nulls += nc
            if ok and lo is not None:
                fstats[c] = [lo, hi, nulls] if nulls_known else [lo, hi]
        if fstats:
            stats[p] = fstats
    return keep, stats


def snapshot_commit(
    df: DataFrame,
    table: str,
    *,
    mode: str = "overwrite",
    expected_version: int | None = None,
    tag: str | None = None,
    stats_cols: list[str] | None = None,
    carry_files: list[str] | None = None,
    meta: dict | None = None,
) -> int:
    """Publish ``df`` as the next snapshot of ``table``; returns the new
    version.

    - ``mode="overwrite"`` (default): the new snapshot is exactly
      ``df`` (old snapshots remain readable until vacuum);
    - ``mode="append"``: the new snapshot is the previous snapshot's
      files CARRIED BY REFERENCE plus ``df``'s new files — a
      metadata-only append (no old data moves), the shape a streaming
      sink commits every micro-batch;
    - ``expected_version``: optimistic-concurrency guard — fail with
      :class:`SnapshotConflict` if the table moved past it.
    - ``tag``: opaque marker recorded in the manifest (e.g. a streaming
      batch id) — the idempotency token replays check.
    - ``carry_files``: advanced overwrite form — carry these files of
      the previous snapshot by reference alongside ``df``'s new files
      (:func:`snapshot_merge` uses it to skip rewriting files its key
      pruning proved untouched).
    - ``stats_cols``: record per-file min/max for these columns in the
      manifest (parquet-footer metadata reads only) so
      :func:`snapshot_read` can SKIP whole files for range predicates —
      Iceberg/Delta-style data skipping.  Appends carry the previous
      files' stats forward unchanged; once a table commits with
      stats_cols, later appends default to the same columns.
    - ``meta``: an opaque JSON dict pinned to this snapshot and CARRIED
      FORWARD by every later commit that does not replace it (appends,
      batch appends, compactions, DML — same discipline as
      ``last_batch``).  The cross-table binding substrate: a table can
      record e.g. which version of a sibling table it was built against
      (operators/ann_store.py binds the serving corpus to its centroid
      table's version this way), and the binding survives the table's
      own lifecycle instead of riding on the single-slot ``tag``.

    The data write is an ordinary Spark parquet write into a
    version-private directory (never seen by readers until the manifest
    publishes); the commit point is one create-exclusive manifest file.
    """
    if mode not in ("overwrite", "append"):
        raise ValueError(f"mode={mode!r}")
    if carry_files is not None and mode == "append":
        raise ValueError(
            "carry_files composes only with overwrite (it IS the explicit "
            "carried-set form that append derives)"
        )
    spark = df.sparkSession
    versions = _list_versions(spark, table)
    latest = versions[-1] if versions else 0
    if expected_version is not None and latest != expected_version:
        raise SnapshotConflict(
            f"expected version {expected_version}, table is at {latest}"
        )
    new_version = latest + 1
    prev_manifest: dict = {}
    if versions:
        prev_manifest = _read_manifest(spark, table, latest)
        # schema is part of the table contract: files of one snapshot
        # must be physically uniform (the vectorized parquet reader
        # cannot upcast e.g. INT32 part files against INT64 ones), and
        # this module does not do schema evolution — enforce, don't
        # discover at read time.
        from pyspark.sql.types import StructType

        prev = StructType.fromJson(json.loads(prev_manifest["schema"]))
        # simpleString = names + types, ignoring nullability/metadata:
        # nullability is not a physical property of the files
        if df.schema.simpleString() != prev.simpleString():
            prev_f = {f.name: f.dataType.simpleString() for f in prev.fields}
            cur_f = {
                f.name: f.dataType.simpleString() for f in df.schema.fields
            }
            missing = [n for n in prev_f if n not in cur_f]
            changed = [
                n for n in prev_f if n in cur_f and cur_f[n] != prev_f[n]
            ]
            added = [n for n in cur_f if n not in prev_f]
            raise ValueError(
                f"schema mismatch vs snapshot v{latest} at {table}: "
                f"{df.schema.simpleString()} vs {prev.simpleString()} "
                f"(dropped: {missing}, retyped: {changed}, added: {added})"
            )

    carried: list[str] = []
    if mode == "append" and versions:
        carried = prev_manifest["files"]
    elif carry_files is not None and versions:
        # advanced form (snapshot_merge): the caller proved these files
        # of the PREVIOUS snapshot are untouched by this rewrite —
        # carry them by reference, like an append carries everything.
        prev_set = set(prev_manifest["files"])
        bad = [f for f in carry_files if f not in prev_set]
        if bad:
            raise ValueError(
                f"carry_files not in snapshot v{latest}: {bad[:3]}"
            )
        carried = list(carry_files)
    # writer-unique staging dir: two writers racing for the same version
    # number never share a directory, so this commit's file listing can
    # only ever see files THIS writer wrote (a loser's staging dir is
    # unreferenced garbage for the next vacuum, never silent extra rows
    # in the winner's snapshot).
    staging = f"{table}/data/v{new_version:05d}-{uuid.uuid4().hex[:8]}"
    df.write.mode("append").parquet(staging)
    # data-skipping stats: sticky per table (appends inherit the stats
    # columns of the snapshot they extend), carried files keep the
    # stats they were committed with — only THIS commit's files get a
    # footer scan, and it is ONE footer read per file (empty-file
    # exclusion and stats from the same metadata fetch).
    if stats_cols is None:
        stats_cols = prev_manifest.get("stats_cols")
    new_files, new_stats = _scan_footers(
        spark,
        _data_files(spark, staging),
        list(stats_cols) if stats_cols else None,
    )
    manifest = _next_manifest(
        prev_manifest,
        new_version,
        carried + new_files,
        df.schema.json(),
        new_stats=new_stats,
        stats_cols=stats_cols,
        tag=tag,
        meta=meta,
    )
    _publish_manifest(spark, table, new_version, manifest)
    return new_version


def snapshot_append_batch(
    df: DataFrame,
    table: str,
    batch_id: int,
    stats_cols: list[str] | None = None,
    meta: dict | None = None,
    writer: str | None = None,
) -> bool:
    """Idempotent per-micro-batch append: commit ``df`` with tag
    ``batch:<id>`` unless the table's watermark already covers this id
    (at-least-once redelivery → exactly-once table).  Returns whether a
    commit happened.
    ``meta`` replaces the carried cross-table binding when the commit
    lands (skipped replays leave the existing binding untouched — it
    was already correct when the batch first committed).

    ``writer``: None skips any batch the table-wide ``last_batch``
    covers, whoever wrote it (``operators/ann_store.py``: a full
    redelivery through a fresh checkpoint is a no-op).  A name (the
    recorder in ``streaming/record.py`` passes its streaming query id,
    which lives in the checkpoint) skips only a batch that the SAME
    writer already committed: a replay from the same checkpoint is
    skipped, while a new checkpoint — whose batch ids restart at 0 — is
    a new writer and its batches land."""
    _, head = _head(df.sparkSession, table)
    if _covers(head, batch_id, writer):
        return False  # replayed batch: already committed
    tag = f"batch:{batch_id}" if writer is None else f"batch:{batch_id}@{writer}"
    snapshot_commit(
        df, table, mode="append", tag=tag, stats_cols=stats_cols, meta=meta,
    )
    return True


def snapshot_read(
    spark: SparkSession,
    table: str,
    version: int | None = None,
    prune: dict | None = None,
) -> DataFrame:
    """Read a snapshot (latest by default, ``version=`` for time
    travel).  The file list is resolved HERE, once — concurrent commits
    cannot change this query's inputs, and directory listings are never
    consulted (no eventual-consistency hazards).

    ``prune``: ``{col: (lo, hi)}`` inclusive range bounds (either side
    ``None`` for unbounded, or a scalar for equality).  Files whose
    recorded min/max provably cannot contain a matching row are dropped
    from the scan BEFORE Spark sees them — manifest-level data skipping,
    one tier above parquet's own row-group pruning (at 100 TB the win is
    never OPENING the 99% of files a time/id-range query cannot touch,
    which row-group stats inside an already-opened file cannot give
    you).  Pruning is advisory and safe-by-construction: files with no
    recorded stats for a column always survive, and callers still apply
    the exact ``filter`` — skipping only removes files with zero
    matching rows, so query results are IDENTICAL with or without it.
    """
    versions = _list_versions(spark, table)
    if not versions:
        raise FileNotFoundError(f"no snapshots at {table}")
    v = version if version is not None else versions[-1]
    if v not in versions:
        raise FileNotFoundError(f"version {v} not in {versions}")
    manifest = _read_manifest(spark, table, v)
    from pyspark.sql.types import StructType

    # the manifest's schema, not per-file footer sampling: reads are
    # deterministic and never depend on which file is listed first
    schema = StructType.fromJson(json.loads(manifest["schema"]))
    files = manifest["files"]
    if prune:
        stats = manifest.get("stats", {})
        files = [
            f for f in files if _file_may_match(stats.get(f, {}), prune)
        ]
    if not files:
        # zero-file manifest (e.g. a retention delete that emptied the
        # table metadata-only) or everything pruned: schema-true empty
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(*files)


def _file_may_match(fstats: dict, prune: dict) -> bool:
    """False only when some pruned column's recorded [min, max] is
    provably disjoint from the requested range (missing stats never
    prune — the reader stays correct for unstated columns/types)."""
    for col, bound in prune.items():
        if col not in fstats:
            continue
        fmin, fmax = fstats[col][0], fstats[col][1]
        lo, hi = bound if isinstance(bound, tuple) else (bound, bound)
        if lo is not None and fmax < lo:
            return False
        if hi is not None and fmin > hi:
            return False
    return True


def snapshot_compact(
    spark: SparkSession,
    table: str,
    target_files: int = 1,
    cluster_by: list[str] | None = None,
    meta: dict | None = None,
) -> int:
    """Rewrite the current snapshot's rows into ``target_files`` files
    and commit them as a new version — the snapshot-table remedy for
    streaming-append fragmentation (every micro-batch commit adds
    files; a day of ingest is thousands).

    Readers are never disturbed: the rewrite lands in a version-private
    directory and becomes visible only at the manifest publish; the
    fragmented version stays readable (and is reclaimed by the next
    ``vacuum``).  The commit carries the previous version's tag forward
    so a streaming writer's batch-id idempotency check survives
    compaction — compacting mid-stream cannot cause re-appends.
    ``meta`` replaces the carried cross-table binding (omitted = the
    previous snapshot's binding carries forward unchanged); ann_store's
    optimize uses it to re-pin a codes table at its freshly-compacted
    sibling's version.

    ``cluster_by``: range-partition + sort the rewrite on these columns
    so each output file covers a TIGHT, nearly disjoint value range —
    what turns the manifest min/max stats into actual file skipping
    (append-ordered files all span the full key range; clustered files
    prune to ~1/target_files per point lookup).  The Delta OPTIMIZE
    ZORDER role, in its linear single-/prefix-key form.
    """
    versions = _list_versions(spark, table)
    if not versions:
        raise FileNotFoundError(f"no snapshots at {table}")
    latest = versions[-1]
    prev_tag = _read_manifest(spark, table, latest).get("tag")
    df = snapshot_read(spark, table, version=latest)
    if cluster_by:
        from pyspark.sql import functions as SF

        cols = [SF.col(c) for c in cluster_by]
        df = df.repartitionByRange(target_files, *cols).sortWithinPartitions(
            *cols
        )
    else:
        df = df.coalesce(target_files)
    return snapshot_commit(
        df, table, mode="overwrite", expected_version=latest, tag=prev_tag,
        meta=meta,
    )


def _key_candidates(
    spark: SparkSession,
    df: DataFrame,
    manifest: dict,
    k0: str,
) -> tuple[list[str], list[str]]:
    """(rewrite candidates, carried) for a KEYED statement: candidacy is
    decided EXACTLY per file — the manifest-sized file-bounds table (one
    row per file) broadcast-joins ``df``'s distinct keys on ``key
    BETWEEN min AND max``, so a file is a candidate only if some
    statement key actually lands in its recorded range.  Files without
    stats for the key always rewrite (safe default)."""
    from pyspark.sql import functions as SF

    files = manifest["files"]
    stats = manifest.get("stats", {})
    bounded = [
        (f, stats[f][k0][0], stats[f][k0][1])
        for f in files
        if k0 in stats.get(f, {})
    ]
    if not bounded:
        return list(files), []
    fb = spark.createDataFrame(bounded, ["_file", "_lo", "_hi"])
    hit_rows = (
        df.select(SF.col(k0).alias("_k")).distinct()
        .join(
            SF.broadcast(fb),
            (SF.col("_k") >= SF.col("_lo")) & (SF.col("_k") <= SF.col("_hi")),
        )
        .select("_file")
        .distinct()
        .collect()
    )
    hits = {r._file for r in hit_rows}
    unbounded = {f for f in files if k0 not in stats.get(f, {})}
    candidates = [f for f in files if f in hits or f in unbounded]
    carried = [f for f in files if f not in set(candidates)]
    return candidates, carried


def snapshot_merge(
    df: DataFrame,
    table: str,
    keys: list[str],
    tag: str | None = None,
    stats_cols: list[str] | None = None,
    meta: dict | None = None,
) -> int:
    """Keyed upsert (MERGE INTO … WHEN MATCHED UPDATE, WHEN NOT MATCHED
    INSERT, whole-row form): the new snapshot is (previous rows whose
    key is NOT in ``df``) ∪ ``df``.  Keys must be non-null (null never
    equi-matches, so a null-keyed prev row would survive as a duplicate).

    The 100 TB shape is WHICH files rewrite.  With manifest stats on the
    primary key column, candidacy is decided EXACTLY per file: the
    file-bounds table (one row per file — manifest-sized, broadcast)
    joins ``df``'s distinct keys on ``key BETWEEN min AND max``, so a
    file rewrites only if some upsert key actually lands in its range —
    a sparse upsert with keys scattered across disjoint ranges carries
    everything between the ranges by reference (a single bounding box
    would carry nothing).  Against a key-clustered table
    (``snapshot_compact(cluster_by=keys)``) a small upsert rewrites
    ~|df| worth of files instead of the whole table — Delta/Iceberg's
    merge file-pruning, done at the manifest tier.  Files with no
    recorded stats for the key always rewrite (safe default);
    secondary-key stats can only shrink the candidate set further.

    ``stats_cols``: record per-file min/max for these columns on the
    commits this merge makes — REQUIRED on the bootstrap commit of a
    merge-maintained table, or no later merge can prune (the table
    never acquires key bounds and every upsert rewrites every file;
    round-8 found the streaming labels table in exactly that state).
    Pass ``stats_cols=keys`` for a table whose only DML is this merge;
    once recorded, later commits inherit the setting (snapshot_commit's
    stats_cols defaulting), so passing it on every call is idempotent.

    ``meta``: replaces the carried cross-table binding on this commit
    (omitted = the previous snapshot's meta carries forward unchanged
    — snapshot_commit's rule); the streaming quality monitor rides its
    running counters here so state + counters land in ONE atomic
    commit.
    """
    spark = df.sparkSession
    versions = _list_versions(spark, table)
    if not versions:
        return snapshot_commit(
            df, table, mode="overwrite", tag=tag, stats_cols=stats_cols,
            meta=meta,
        )
    latest = versions[-1]
    manifest = _read_manifest(spark, table, latest)
    from pyspark.sql.types import StructType

    schema = StructType.fromJson(json.loads(manifest["schema"]))
    # drop enforcement must not depend on file layout: without
    # candidates the commit's schema check rejects the narrower df, with
    # candidates the union below would fail with a different error.
    dropped_cols = [f.name for f in schema.fields if f.name not in df.columns]
    if dropped_cols:
        raise ValueError(
            f"snapshot_merge: df is missing existing columns "
            f"{dropped_cols} of {table} — snapshot tables keep their "
            "schema (provide the columns, even if NULL-valued)"
        )
    candidates, carried = _key_candidates(spark, df, manifest, keys[0])
    if candidates:
        prev_part = spark.read.schema(schema).parquet(*candidates)
        kept = prev_part.join(
            df.select(*keys).distinct(), keys, "left_anti"
        )
        out = kept.unionByName(df)
    else:
        out = df
    return snapshot_commit(
        out,
        table,
        mode="overwrite",
        expected_version=latest,
        tag=tag,
        carry_files=carried or None,
        stats_cols=stats_cols,
        meta=meta,
    )


def _dml_predicate(prune: dict | None, where: str | None):
    """The row predicate of a DELETE as a Column, built so that
    stats-based file pruning is SAFE BY CONSTRUCTION: the ``prune``
    range bounds are part of the predicate itself (ANDed with ``where``),
    so any row the predicate matches necessarily falls inside the
    bounds a file must overlap to be a rewrite candidate — a wrong or
    overly tight ``prune`` can only shrink what the statement matches,
    never silently skip a file that held matching rows.  Returns None
    when both parts are absent (caller decides if that is legal)."""
    from pyspark.sql import functions as SF

    conds = []
    for col, bound in (prune or {}).items():
        lo, hi = bound if isinstance(bound, tuple) else (bound, bound)
        if lo is not None:
            conds.append(SF.col(col) >= SF.lit(lo))
        if hi is not None:
            conds.append(SF.col(col) <= SF.lit(hi))
    if where is not None:
        conds.append(SF.expr(where))
    if not conds:
        return None
    out = conds[0]
    for c in conds[1:]:
        out = out & c
    return out


def _dml_candidates(
    files: list[str], stats: dict, prune: dict | None
) -> tuple[list[str], list[str]]:
    """(rewrite candidates, carried-by-reference) for a DML statement:
    a file is carried only when its recorded min/max are provably
    disjoint from the ``prune`` bounds (missing stats, or no prune at
    all, always rewrite — the safe default)."""
    if not prune:
        return list(files), []
    cand = [f for f in files if _file_may_match(stats.get(f, {}), prune)]
    cset = set(cand)
    return cand, [f for f in files if f not in cset]


def _file_all_match(fstats: dict, prune: dict) -> bool:
    """True only when the file's recorded [min, max] is provably
    CONTAINED in every pruned column's requested range — every row of
    the file matches the range conjunction.  Missing stats for any
    pruned column mean containment cannot be proven (False).

    NULL discipline (round-8 review): parquet min/max EXCLUDE NULLs,
    and a NULL predicate keeps the row under ANSI DELETE — so blind
    containment additionally requires a recorded null_count of ZERO
    for every pruned column (stats entry ``[lo, hi, 0]``).  Unknown or
    non-zero null counts send the file to the rewrite path, whose
    ``~coalesce(cond, False)`` filter keeps NULL rows correctly."""
    for col, bound in prune.items():
        if col not in fstats:
            return False
        ent = fstats[col]
        if len(ent) < 3 or ent[2] != 0:
            return False  # NULLs present or unknown: never drop blind
        fmin, fmax = ent[0], ent[1]
        lo, hi = bound if isinstance(bound, tuple) else (bound, bound)
        if lo is not None and fmin < lo:
            return False
        if hi is not None and fmax > hi:
            return False
    return True


def snapshot_delete(
    spark: SparkSession,
    table: str,
    where: str | None = None,
    *,
    prune: dict | None = None,
    tag: str | None = None,
) -> int:
    """Row-level ``DELETE FROM table WHERE …`` as a new snapshot:
    matching rows disappear, everything else survives; SQL three-valued
    semantics (a row deletes only when the predicate is TRUE — NULL
    keeps the row, exactly like ANSI DELETE).

    The predicate is ``where`` ANDed with the ``prune`` range bounds
    (``{col: (lo, hi)}``, same shape as :func:`snapshot_read`) — and
    the bounds are what make the statement 100 TB-shaped: files whose
    manifest min/max cannot overlap them are CARRIED BY REFERENCE
    (zero IO), and only overlapping files rewrite with the complement
    filter.  Because the bounds are part of the predicate, pruning can
    never skip a file with matching rows (see :func:`_dml_predicate`).
    Against a clustered table a ranged delete touches ~the files the
    range spans — Delta/Iceberg's delete file-pruning at the manifest
    tier.  If NO file can match, this is a metadata no-op: the current
    version is returned and nothing commits.

    Retention fast path: for a PRUNE-ONLY delete (no ``where``), a file
    whose recorded min/max is provably CONTAINED in the bounds has
    every row matching — it is dropped from the manifest WITHOUT being
    read or rewritten.  A "delete everything older than the cutoff" on
    a time-appended store therefore touches only the files straddling
    the cutoff boundary (usually one); the expired bulk disappears
    metadata-only and its bytes are reclaimed by the next vacuum.  With
    ``where`` present containment proves nothing (the residual
    predicate may be false for some rows), so those files rewrite.

    An unconditional delete (no ``where``, no ``prune``) is refused —
    truncation should be an explicit empty-frame ``snapshot_commit``,
    not a degenerate predicate.
    """
    from pyspark.sql import functions as SF
    from pyspark.sql.types import StructType

    cond = _dml_predicate(prune, where)
    if cond is None:
        raise ValueError(
            "unconditional DELETE refused: pass where/prune, or commit "
            "an empty frame to truncate explicitly"
        )
    versions = _list_versions(spark, table)
    if not versions:
        raise FileNotFoundError(f"no snapshots at {table}")
    latest = versions[-1]
    manifest = _read_manifest(spark, table, latest)
    schema = StructType.fromJson(json.loads(manifest["schema"]))
    stats = manifest.get("stats", {})
    candidates, carried = _dml_candidates(manifest["files"], stats, prune)
    if not candidates:
        return latest  # provably nothing to delete: no new version
    dropped: list[str] = []
    if where is None and prune:
        # retention fast path: fully-contained files drop metadata-only
        dropped = [
            f for f in candidates if _file_all_match(stats.get(f, {}), prune)
        ]
        if dropped:
            dset = set(dropped)
            candidates = [f for f in candidates if f not in dset]
    if not candidates:
        # every matching file was provably all-expired: publish a
        # manifest of just the carried files — a PURE metadata commit,
        # zero bytes read or written (an empty-frame snapshot_commit
        # would still write one empty part file).  The rename-without-
        # overwrite publish keeps optimistic concurrency intact.
        new_manifest = _next_manifest(
            manifest, latest + 1, carried, manifest["schema"], tag=tag
        )
        _publish_manifest(spark, table, latest + 1, new_manifest)
        return latest + 1
    kept = (
        spark.read.schema(schema)
        .parquet(*candidates)
        .filter(~SF.coalesce(cond, SF.lit(False)))
    )
    return snapshot_commit(
        kept,
        table,
        mode="overwrite",
        expected_version=latest,
        tag=tag,
        carry_files=carried or None,
    )


def snapshot_fold_batch(
    fresh: DataFrame,
    table: str,
    batch_id: int,
    merge: Callable[[DataFrame, DataFrame], DataFrame],
) -> bool:
    """Idempotent per-micro-batch READ-MERGE-OVERWRITE: the table is
    replaced by ``merge(stored, fresh)`` (by ``fresh`` when it does not
    exist yet) under tag ``batch:<id>``, unless the watermark already
    covers ``batch_id``.  The sink of every mergeable summary whose
    state is a REPLACE, not an append (the streaming sketches): a
    replayed batch would double-count if re-merged, so the skip is
    correctness, not hygiene.  Returns whether a commit happened.

    Read-merge-overwrite is single-writer by contract, but the OCC pin
    is free (the read version is already in hand): the commit's
    ``expected_version`` is the version the merge read, so two writers
    accidentally pointed at one table fail loudly with
    :class:`SnapshotConflict` instead of silently losing a merge."""
    spark = fresh.sparkSession
    version, head = _head(spark, table)
    if _covers(head, batch_id):
        return False  # replayed batch: already merged
    if head:
        out = merge(snapshot_read(spark, table, version=version), fresh)
    else:
        out = fresh
    snapshot_commit(
        out, table, mode="overwrite", tag=f"batch:{batch_id}",
        expected_version=version,
    )
    return True


def snapshot_pre_state(
    spark: SparkSession, table: str, batch_id: int
) -> tuple[DataFrame | None, bool]:
    """(state BEFORE this batch, already_committed_for_this_batch) —
    the crash-recovery reader of a sink that commits several tables per
    batch (streaming dedup, curate, drift, profile, quality).

    If the table's head watermark already covers ``batch_id`` (a
    crashed attempt or a replay), the pre-batch state is the newest
    version whose watermark PRECEDES the batch — found by walking
    versions backward, NOT by assuming ``versions[-2]``: maintenance
    commits (compaction, re-index) carry the watermark forward and can
    stack versions between the crashed attempt and the replay, and a
    naive previous-version read would probe POST-batch state (for the
    dedup index: the self-pairing re-drop hazard time travel exists to
    prevent).  ``(None, True)``: every retained version covers the
    batch — either its first-ever commit or vacuumed history; callers
    tell the two apart by ``versions[0] == 1``."""
    versions = _list_versions(spark, table)
    if not versions:
        return None, False
    for i, v in enumerate(reversed(versions)):
        if not _covers(_read_manifest(spark, table, v), batch_id):
            return snapshot_read(spark, table, version=v), i > 0
    return None, True


def snapshot_watermark(
    spark: SparkSession, table: str
) -> tuple[int, int | None]:
    """(latest version, its batch watermark) — None for a table no
    batch sink has committed to.  Maintenance that must refuse to run
    over a half-committed multi-table batch compares these across
    tables and pins the versions as its ``expected_version``."""
    version, head = _head(spark, table)
    if not head:
        raise FileNotFoundError(f"no snapshots at {table}")
    return version, _committed_batch(head)


def _staging_version(dirname: str) -> int | None:
    """Parse the snapshot version out of a data dir name
    (``v00042-<token>`` or legacy ``v00042``); None if unrecognized."""
    if not dirname.startswith("v"):
        return None
    head = dirname[1:].split("-", 1)[0]
    return int(head) if head.isdigit() else None


def snapshot_vacuum(
    spark: SparkSession, table: str, keep_last: int = 1
) -> list[str]:
    """Delete data files unreachable from the newest ``keep_last``
    manifests (and drop the older manifests).  The only deleting
    operation in the module; returns the deleted paths.  Run it only
    when no reader can still hold a file list older than the kept
    window (same contract as Iceberg's expire_snapshots).

    Safety rails:

    - ``keep_last`` must be ≥ 1 — the current version's files are live
      by definition and vacuum refuses to consider deleting them (a
      reader pinned to the latest manifest always survives a vacuum);
    - staging directories whose version is NEWER than the newest
      published manifest belong to IN-FLIGHT writers whose commit may
      still succeed — they are skipped entirely.  Directories at or
      below the published watermark with unreferenced files are either
      superseded versions or the staging dirs of writers that lost a
      version race (their commit can only end in SnapshotConflict now,
      because the version they were writing has already been published)
      — both are safe to reclaim.
    """
    if keep_last < 1:
        raise ValueError(
            f"keep_last={keep_last}: vacuum always keeps the current "
            "version — it is never a drop-table"
        )
    versions = _list_versions(spark, table)
    if not versions:
        return []
    keep_v = versions[-keep_last:]
    published = versions[-1]
    live: set[str] = set()
    for v in keep_v:
        live.update(_read_manifest(spark, table, v)["files"])
    fs, _, jvm = _fs(spark, table)
    # manifests FIRST, then data: a crash mid-vacuum must strand only
    # unreferenced data files (harmless garbage, retried next vacuum),
    # never a live manifest pointing at deleted files (broken reads).
    for v in versions[:-keep_last]:
        fs.delete(
            jvm.org.apache.hadoop.fs.Path(
                f"{table}/{_MANIFEST_DIR}/v{v:05d}.json"
            ),
            False,
        )
    deleted = []
    data_root = jvm.org.apache.hadoop.fs.Path(f"{table}/data")
    if not fs.exists(data_root):
        return deleted
    for st in fs.listStatus(data_root):
        dname = st.getPath().getName()
        ver = _staging_version(dname)
        if ver is not None and ver > published:
            continue  # in-flight writer: its commit may still land
        dir_files = _data_files(spark, st.getPath().toString())
        if not dir_files:
            # no manifest-visible data files at all — a crashed
            # writer's _temporary leftovers or a dir whose parts were
            # already reclaimed per-file.  At/below the published
            # watermark its commit can only end in SnapshotConflict,
            # so the dir is pure garbage; without this branch such
            # dirs survived every vacuum forever (round-8 review).
            fs.delete(st.getPath(), True)
            continue
        dead = [f for f in dir_files if f not in live]
        if dead and len(dead) == len(dir_files):
            # whole directory unreferenced (superseded version or a
            # race loser's staging dir): one recursive delete
            fs.delete(st.getPath(), True)
            deleted.extend(dead)
        else:
            for f in dead:
                fs.delete(jvm.org.apache.hadoop.fs.Path(f), False)
                deleted.append(f)
    return deleted
