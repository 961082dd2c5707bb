"""Python DataSource (the Spark 4 ``pyspark.sql.datasource`` API)
exposing snapshot tables through the standard reader surface::

    spark.dataSource.register(SnapshotDataSource)
    df = (spark.read.format("rosql_snapshot")
          .option("version", 3)           # optional time travel
          .load("/stores/corpus/docs"))

This is the INTEROP path — the way a plain-Spark consumer (a notebook,
a job that must not import this package's internals) reads a snapshot
table, with the manifest contract (exact file list of one committed
version, never a directory listing) and time travel intact.  The
in-engine fast path remains ``sources.snapshot.snapshot_read``, which
hands the manifest's file list to Spark's native vectorized parquet
scan; this connector reads through pyarrow in Python workers (Arrow
RecordBatches over the local socket), so it trades some throughput for
a dependency-free surface.  Scale shape is still right: one input
partition per data file (the same parallelism the native scan gets
from the manifest), predicate pushdown to row-level pyarrow dataset
filtering via ``pushFilters`` (4.1 API) so filtered scans move only
matching rows out of the worker, and column pruning at the parquet
reader via the pruned schema Spark hands to ``reader()``.

Local/``file:`` paths only — the manifest is parsed with plain-Python
IO in the driver and pyarrow in workers (no JVM filesystem access from
a Python DataSource); the native ``snapshot_read`` covers remote
filesystems.

Reference parity: strawlab/ros_sql's query surface is "whatever
SQLAlchemy exposes" (SURVEY.md §2.2 Scans row); this adds the
equivalent open-consumer surface for the engine's own table format.
"""

from __future__ import annotations

import json
import os
from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

__all__ = ["SnapshotDataSource"]


from ros_sql_spark.sources.snapshot import (  # shared pure-Python
    _local_manifest,  # local-FS primitives — ONE definition for the
    _local_versions,  # committer and every reader (round-10 review)
    _plain_local as _local,
)


def _load_manifest(table: str, version: int | None) -> dict:
    # name the real failure for remote schemes up front — otherwise an
    # s3://... path surfaces as the misleading "not a snapshot table"
    if "://" in table and not table.startswith("file://"):
        raise ValueError(
            f"rosql_snapshot connector supports local/'file:' paths "
            f"only (got {table!r}); use the native snapshot_read for "
            "remote filesystems"
        )
    versions = _local_versions(table)
    if not versions:
        raise FileNotFoundError(
            f"not a snapshot table (no versions): {table}"
        )
    v = versions[-1] if version is None else version
    if v not in versions:
        raise ValueError(
            f"version {v} not in retained versions {versions} of {table}"
        )
    return _local_manifest(table, v)


class _FilePartition(InputPartition):
    def __init__(self, path: str | None):
        self.path = path


def _conform_batches(batches, schema: StructType):
    """Yield non-empty Arrow batches cast to the arrow types Spark's
    Python DataSource ingest expects for ``schema``.  Spark 4 writes
    parquet timestamps as ``timestamp[ns]``, which the ingest rejects
    (UNSUPPORTED_ARROWTYPE Timestamp(NANOSECOND)) — round-11 fix: cast
    mismatching columns to the ``to_arrow_schema`` types.  ns→µs uses
    FLOOR division, hand-built: pyarrow's cast truncates toward zero,
    which reads pre-epoch sub-µs timestamps 1 µs HIGHER than Spark's
    own floored parquet NANOS read (round-11 review, verified on
    -1500 ns → cast gives -1 µs, Spark/DuckDB give -2 µs); everything
    else is a plain cast(safe=False) on exactly the mismatching
    columns."""
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql.pandas.types import to_arrow_schema

    def _conform_col(col, t):
        if col.type == t:
            return col
        if (
            pa.types.is_timestamp(col.type)
            and col.type.unit == "ns"
            and pa.types.is_timestamp(t)
            and t.unit == "us"
        ):
            ns = col.cast(pa.int64())
            q = pc.divide(ns, 1000)  # truncates toward zero
            # floor adjust: negative inputs with a remainder go 1 lower
            rem = pc.subtract(ns, pc.multiply(q, 1000))
            adj = pc.cast(pc.less(rem, 0), pa.int64())
            return pc.subtract(q, adj).cast(t)
        # round-12 advice fix: a timestamp[ns] NESTED inside a struct or
        # (large_)list must get the same floored conversion — the plain
        # cast would truncate toward zero and reintroduce the pre-epoch
        # 1 µs off-by-one for third-party producers.  Rebuild the
        # container around recursively-conformed children, preserving
        # the container's own validity bitmap.
        if pa.types.is_struct(col.type) and pa.types.is_struct(t):
            # children matched BY NAME, not position — a third-party
            # file may order struct fields differently than the
            # manifest schema (round-12 self-review; positional match
            # would silently swap fields of compatible types)
            kids = []
            for i in range(t.num_fields):
                name = t.field(i).name
                idx = col.type.get_field_index(name)
                if idx < 0:
                    raise ValueError(
                        f"struct field {name!r} missing from file "
                        f"column (file has {[f.name for f in col.type]})"
                    )
                kids.append(_conform_col(col.field(idx), t.field(i).type))
            return pa.StructArray.from_arrays(
                kids, fields=list(t), mask=pc.is_null(col)
            )
        if (pa.types.is_list(col.type) or pa.types.is_large_list(col.type)) and (
            pa.types.is_list(t) or pa.types.is_large_list(t)
        ):
            # conform the flat child values, rebuild around the same
            # list structure.  Offsets are rebased to 0 (from_arrays
            # rejects a validity mask with sliced offsets) and the
            # values window sliced to match.
            off_t = pa.int64() if pa.types.is_large_list(t) else pa.int32()
            start = col.offsets[0].as_py()
            offsets = (
                pc.subtract(col.offsets, col.offsets[0])
                if start
                else col.offsets
            ).cast(off_t)
            vals = col.values.slice(start) if start else col.values
            cls = (
                pa.LargeListArray
                if pa.types.is_large_list(t)
                else pa.ListArray
            )
            return cls.from_arrays(
                offsets,
                _conform_col(vals, t.value_type),
                mask=pc.is_null(col) if col.null_count else None,
            )
        return col.cast(t, safe=False)

    target = to_arrow_schema(schema)
    for batch in batches:
        if not batch.num_rows:
            continue
        if batch.schema.types != target.types:
            arrays = [
                _conform_col(col, t)
                for col, t in zip(batch.columns, target.types)
            ]
            batch = pa.RecordBatch.from_arrays(arrays, schema=target)
        yield batch


_EPOCH_UTC = None  # lazily built datetime(1970,1,1,UTC)


def _dt_to_epoch_us(value) -> int:
    """tz-aware datetime → integer epoch microseconds (exact: pure
    timedelta arithmetic, no float seconds)."""
    import datetime as dt

    global _EPOCH_UTC
    if _EPOCH_UTC is None:
        _EPOCH_UTC = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)
    d = value - _EPOCH_UTC
    return (d.days * 86400 + d.seconds) * 1_000_000 + d.microseconds


def _ts_filter_expr(kind: str, colname: str, epoch_us: int, ftype):
    """Build the pyarrow dataset expression for a pushed TIMESTAMP
    comparison, exact against Spark's read semantics (round-12, closing
    the round-11 allowlist fallback).

    Spark compares in the µs domain AFTER this reader's conform step:
    ns storage is FLOOR-divided to µs, s/ms storage widens exactly.
    Arrow timestamp storage is always an epoch count (the tz label is
    display metadata; naive columns are treated as UTC instants by the
    conform cast), so the comparison is pure integer logic against the
    file's own (unit, tz) type — the scalar is built IN that type,
    which is what made the naive version crash with kernel-mismatch
    (round-11 advice).  The pushed boundary X is µs-grain (Spark
    TimestampType precision), so for ns files the five comparisons
    translate to half-open ns ranges (floor(t/1000) > X ⟺
    t ≥ (X+1)·1000, etc.); for s/ms files to floor/ceil-adjusted
    boundaries; equality against a non-unit-aligned boundary is
    provably empty."""
    import pyarrow as pa
    import pyarrow.compute as pc

    fld = pc.field(colname)

    def sc(n: int):
        return pa.scalar(n, type=ftype)

    if ftype.unit == "ns":
        lo, hi = epoch_us * 1000, (epoch_us + 1) * 1000
        return {
            "GreaterThan": fld >= sc(hi),
            "GreaterThanOrEqual": fld >= sc(lo),
            "LessThan": fld < sc(lo),
            "LessThanOrEqual": fld < sc(hi),
            "EqualTo": (fld >= sc(lo)) & (fld < sc(hi)),
        }[kind]
    if ftype.unit == "us":
        v = sc(epoch_us)
        return {
            "GreaterThan": fld > v,
            "GreaterThanOrEqual": fld >= v,
            "LessThan": fld < v,
            "LessThanOrEqual": fld <= v,
            "EqualTo": fld == v,
        }[kind]
    k = 1_000_000 if ftype.unit == "s" else 1_000  # coarse units
    q, r = divmod(epoch_us, k)  # Python divmod floors (negatives too)
    if kind == "GreaterThan":
        return fld > sc(q)
    if kind == "GreaterThanOrEqual":
        return fld >= sc(q + (1 if r else 0))
    if kind == "LessThan":
        return fld < sc(q + (1 if r else 0))
    if kind == "LessThanOrEqual":
        return fld <= sc(q)
    return fld == sc(q) if r == 0 else pc.scalar(False)


class _SnapshotReader(DataSourceReader):
    def __init__(self, schema: StructType, options: dict, files: list):
        self._schema = schema
        self._files = files
        self._pushed: list = []

    def partitions(self):
        # one partition per committed data file — the same parallelism
        # the native scan derives from the manifest; sentinel for the
        # schema-true empty table
        return [_FilePartition(p) for p in self._files] or [
            _FilePartition(None)
        ]

    def read(self, partition: _FilePartition) -> Iterator:
        if partition.path is None:
            return
        import pyarrow.dataset as pads

        ds = pads.dataset(_local(partition.path), format="parquet")
        expr = None
        if self._pushed:
            import pyarrow.compute as pc

            ops = {
                "EqualTo": lambda c, v: pc.field(c) == v,
                "GreaterThan": lambda c, v: pc.field(c) > v,
                "GreaterThanOrEqual": lambda c, v: pc.field(c) >= v,
                "LessThan": lambda c, v: pc.field(c) < v,
                "LessThanOrEqual": lambda c, v: pc.field(c) <= v,
                "IsNull": lambda c, v: pc.field(c).is_null(),
                "IsNotNull": lambda c, v: ~pc.field(c).is_null(),
            }
            for kind, colname, value, is_ts in self._pushed:
                if is_ts:
                    e = _ts_filter_expr(
                        kind, colname, value, ds.schema.field(colname).type
                    )
                else:
                    e = ops[kind](colname, value)
                expr = e if expr is None else (expr & e)
        cols = [f.name for f in self._schema.fields]
        yield from _conform_batches(
            ds.to_batches(columns=cols, filter=expr), self._schema
        )


class _SnapshotPushdownReader(_SnapshotReader):
    """The ``pushdown`` variant: merely IMPLEMENTING pushFilters makes
    Spark require ``spark.sql.python.filterPushdown.enabled`` (it
    refuses to silently skip pushdown), so the method lives on this
    opt-in subclass — the base reader works on ANY session (the plain
    driver environment included)."""

    def pushFilters(self, filters):  # noqa: N802 (API name)
        """Row-level pushdown: the supported comparisons become ONE
        conjunctive pyarrow dataset filter evaluated in the worker, so
        only matching rows cross into Spark.  pyarrow's evaluation is
        exact (row-level, not just row-group stats), so handled filters
        are NOT returned for re-evaluation.  Nested/struct columns and
        other filter shapes fall back to Spark."""
        import datetime as dt

        from pyspark.sql.types import (
            BooleanType,
            ByteType,
            DateType,
            IntegerType,
            LongType,
            ShortType,
            StringType,
            TimestampType,
        )

        rest = []
        # Pushdown is an explicit ALLOWLIST of types whose pyarrow
        # comparison semantics are verified to match Spark's:
        # integrals, string, boolean, date, timestamp.  Float/double
        # stay Spark-side (Arrow evaluates every NaN comparison false
        # where Spark orders NaN above all numbers — a pushed float
        # filter would silently drop NaN rows, round-10 review).
        # Timestamp comparisons — the single most common predicate on
        # event tables — are translated per-file by _ts_filter_expr
        # (round-12): the boundary scalar is built in the file column's
        # own (unit, tz) type from the instant's integer epoch count,
        # with floor-exact boundary adjustment for ns/s/ms grains, so
        # the round-11 kernel-mismatch crash class is structurally gone
        # and a pushed time-range scan prunes parquet row groups
        # instead of decoding them all.  The pushed value must be a
        # tz-aware datetime (Spark sends the instant with its session
        # zone attached); a naive value has no defined instant and
        # falls back to a Spark Filter, as does TimestampNTZ.  Anything
        # outside the allowlist falls back to a normal Spark Filter.
        _PUSHABLE = (
            BooleanType,
            ByteType,
            ShortType,
            IntegerType,
            LongType,
            StringType,
            DateType,
        )
        fields = {
            f.name: f.dataType
            for f in self._schema.fields
            if isinstance(f.dataType, _PUSHABLE)
        }
        ts_fields = {
            f.name
            for f in self._schema.fields
            if isinstance(f.dataType, TimestampType)
        }
        _CMP = (
            EqualTo,
            GreaterThan,
            GreaterThanOrEqual,
            LessThan,
            LessThanOrEqual,
        )
        for f in filters:
            if not (
                isinstance(f, _CMP + (IsNull, IsNotNull))
                and len(f.attribute) == 1
            ):
                rest.append(f)
                continue
            col = f.attribute[0]
            value = getattr(f, "value", None)
            if col in fields or (
                col in ts_fields and isinstance(f, (IsNull, IsNotNull))
            ):
                self._pushed.append((type(f).__name__, col, value, False))
            elif (
                col in ts_fields
                and isinstance(f, _CMP)
                and isinstance(value, dt.datetime)
                and value.tzinfo is not None
            ):
                self._pushed.append(
                    (type(f).__name__, col, _dt_to_epoch_us(value), True)
                )
            else:
                rest.append(f)
        return rest


class _StagedFile(WriterCommitMessage):
    def __init__(self, path: str | None):
        self.path = path


class _StagedWriteMixin:
    """Shared executor-side write phase of the batch and stream
    writers: Arrow batches → one parquet file per non-empty partition
    in a pre-commit staging area OUTSIDE ``{table}/data`` (vacuum's
    file scan covers data/ only, so in-flight files are safe without
    version guessing)."""

    def _init_target(self, options: dict) -> None:
        raw = options.get("path") or ""
        if "://" in raw and not raw.startswith("file://"):
            raise ValueError(
                f"rosql_snapshot sink supports local/'file:' paths "
                f"only (got {raw!r}); use the native snapshot writer "
                "for remote filesystems"
            )
        self._table = _local(raw)
        if not self._table:
            raise ValueError(
                "rosql_snapshot sink: .option('path', <table>) / "
                ".save(<table>) / .start(<table>) is required"
            )
        self._run = "attempt-" + os.urandom(6).hex()

    def _staging_root(self) -> str:
        return os.path.join(self._table, "_stream_staging")

    def write(self, iterator):
        import pyarrow.parquet as papq

        out = None
        writer = None
        for batch in iterator:
            if batch.num_rows == 0:
                continue
            if writer is None:
                d = os.path.join(self._staging_root(), self._run)
                os.makedirs(d, exist_ok=True)
                out = os.path.join(d, f"part-{os.urandom(8).hex()}.parquet")
                writer = papq.ParquetWriter(out, batch.schema)
            writer.write_batch(batch)
        if writer is not None:
            writer.close()
        return _StagedFile(out)

    def _sweep_staging(self) -> None:
        import shutil

        root = self._staging_root()
        if os.path.isdir(root):
            for d in os.listdir(root):
                shutil.rmtree(os.path.join(root, d), ignore_errors=True)

    def abort(self, messages, batchId=None) -> None:  # noqa: N803
        import shutil

        shutil.rmtree(
            os.path.join(self._staging_root(), self._run),
            ignore_errors=True,
        )


class _SnapshotBatchWriter(_StagedWriteMixin, DataSourceArrowWriter):
    """``df.write.format("rosql_snapshot")`` — the open-API batch
    writer: same two-phase staged write as the streaming sink, one
    un-watermarked manifest at commit.  ``mode("append")`` carries the
    previous snapshot's files by reference; ``mode("overwrite")``
    publishes exactly this write (old versions stay readable until
    vacuum — native overwrite semantics)."""

    def __init__(self, schema: StructType, options: dict, overwrite: bool):
        self._schema = schema
        self._mode = "overwrite" if overwrite else "append"
        self._init_target(options)

    def commit(self, messages) -> None:
        from ros_sql_spark.sources.snapshot import (
            snapshot_commit_staged_files,
        )

        staged = [m.path for m in messages if m is not None and m.path]
        snapshot_commit_staged_files(
            self._table,
            staged,
            self._schema.json(),
            batch_id=None,
            mode=self._mode,
        )
        self._sweep_staging()


class _SnapshotStreamWriter(_StagedWriteMixin, DataSourceStreamArrowWriter):
    """``writeStream.format("rosql_snapshot")`` — the open-API
    exactly-once streaming sink over snapshot tables (the in-engine
    twin is ``snapshot_append_batch`` in a foreachBatch).  Two-phase like
    every snapshot commit: executors write Arrow batches straight to
    parquet in a PRE-COMMIT staging area outside ``{table}/data``
    (vacuum never scans there, so in-flight files are safe without any
    version-guessing), and the driver's ``commit(batchId)`` moves them
    into a version-private data dir and publishes ONE manifest carrying
    the ``batch:<id>`` watermark — redelivered batches delete their
    staged files and touch nothing (exactly-once, asserted in tests).
    ``abort`` removes the attempt's files; a crash that skips abort
    leaves them in staging, and the next successful commit sweeps any
    stale staging dirs (single-writer-per-store contract, same as every
    snapshot sink)."""

    def __init__(self, schema: StructType, options: dict):
        self._schema = schema
        self._init_target(options)

    def commit(self, messages, batchId) -> None:  # noqa: N803 (API name)
        # runs in a JVM-less Python runner: the commit helper is pure
        # Python IO by contract (snapshot.py docstring)
        from ros_sql_spark.sources.snapshot import (
            snapshot_commit_staged_files,
        )

        staged = [m.path for m in messages if m is not None and m.path]
        snapshot_commit_staged_files(
            self._table, staged, self._schema.json(), batchId
        )
        # stale-attempt sweep: anything still under staging after this
        # commit belongs to a crashed attempt (single writer per store)
        self._sweep_staging()


class _SnapshotStreamReader(DataSourceStreamReader):
    """``spark.readStream.format("rosql_snapshot")`` — the change
    stream of an APPEND-ONLY snapshot table: offsets are manifest
    version numbers, each micro-batch reads exactly the files the new
    versions added (manifest set difference, one input partition per
    new file).
    Non-append history (overwrite / DML / compaction rewrites) is a
    hard error, not silent double-reads: a version whose file set
    drops files cannot be expressed as an append delta.  Offsets are
    checkpointed by Spark; retention must cover reader lag (a vacuumed
    start-version manifest raises with that guidance)."""

    def __init__(self, schema: StructType, options: dict):
        self._schema = schema
        self._table = options.get("path")
        if not self._table:
            raise ValueError("rosql_snapshot: .load(<table path>) is required")

    def _versions(self) -> list[int]:
        return _local_versions(self._table)

    def initialOffset(self) -> dict:  # noqa: N802 (API name)
        return {"version": 0}

    def latestOffset(self) -> dict:  # noqa: N802 (API name)
        vs = self._versions()
        return {"version": vs[-1] if vs else 0}

    def _files_at(self, version: int) -> set:
        if version == 0:
            return set()
        vs = self._versions()
        if version not in vs:
            raise ValueError(
                f"rosql_snapshot stream: version {version} of "
                f"{self._table} is not retained (vacuumed?) — retention "
                "must cover reader lag (keep_last >= the version span "
                "between micro-batches)"
            )
        return set(_load_manifest(self._table, version)["files"])

    def partitions(self, start: dict, end: dict):
        lo, hi = int(start["version"]), int(end["version"])
        if hi <= lo:
            return [_FilePartition(None)]
        before, after = self._files_at(lo), self._files_at(hi)
        dropped = before - after
        if dropped:
            raise ValueError(
                "rosql_snapshot stream: versions "
                f"{lo}..{hi} of {self._table} dropped {len(dropped)} "
                "file(s) — the change stream supports APPEND-ONLY "
                "history (no overwrite/DML/compaction between read "
                "offsets)"
            )
        new = sorted(after - before)
        return [_FilePartition(p) for p in new] or [_FilePartition(None)]

    def read(self, partition: _FilePartition) -> Iterator:
        if partition.path is None:
            return
        import pyarrow.dataset as pads

        ds = pads.dataset(_local(partition.path), format="parquet")
        cols = [f.name for f in self._schema.fields]
        yield from _conform_batches(
            ds.to_batches(columns=cols), self._schema
        )

    def commit(self, end: dict) -> None:
        pass


class SnapshotDataSource(DataSource):
    """``spark.read.format("rosql_snapshot")`` — module docstring."""

    @classmethod
    def name(cls) -> str:
        return "rosql_snapshot"

    def _manifest(self) -> dict:
        """ONE manifest resolution per DataSource instance (= per read):
        schema() and reader() must see the SAME snapshot — two
        independent latest-version lookups could straddle a concurrent
        commit and project the new file list through the old schema, a
        mixed-version read snapshot isolation exists to prevent
        (round-10 review)."""
        if not hasattr(self, "_m"):
            table = self.options.get("path")
            if not table:
                raise ValueError(
                    "rosql_snapshot: .load(<table path>) is required"
                )
            v = self.options.get("version")
            self._m = _load_manifest(
                table, int(v) if v is not None else None
            )
        return self._m

    def schema(self) -> StructType:
        return StructType.fromJson(json.loads(self._manifest()["schema"]))

    def reader(self, schema: StructType) -> _SnapshotReader:
        # ``schema`` is the PRUNED read schema: passing its column list
        # to the pyarrow dataset is the column-pruning path.
        # .option("pushdown", "true") opts into the pushFilters variant
        # (requires spark.sql.python.filterPushdown.enabled=true — the
        # engine session sets it; a plain session must opt in itself).
        opts = dict(self.options)
        files = list(self._manifest()["files"])
        if str(opts.get("pushdown", "")).lower() == "true":
            return _SnapshotPushdownReader(schema, opts, files)
        return _SnapshotReader(schema, opts, files)

    def streamWriter(  # noqa: N802 (API name)
        self, schema: StructType, overwrite: bool
    ) -> _SnapshotStreamWriter:
        if overwrite:
            raise ValueError(
                "rosql_snapshot stream sink supports append mode only "
                "(snapshot append is metadata-only; use snapshot_commit "
                "for overwrites)"
            )
        return _SnapshotStreamWriter(schema, dict(self.options))

    def writer(
        self, schema: StructType, overwrite: bool
    ) -> _SnapshotBatchWriter:
        return _SnapshotBatchWriter(schema, dict(self.options), overwrite)

    def streamReader(  # noqa: N802 (API name)
        self, schema: StructType
    ) -> _SnapshotStreamReader:
        return _SnapshotStreamReader(schema, dict(self.options))
