"""JDBC source/sink — the twin of the reference's SQLAlchemy backend.

strawlab/ros_sql speaks to any SQLAlchemy database (SQLite/PostgreSQL/
MySQL) with a per-message INSERT + commit (R7) — its throughput ceiling
(SURVEY.md §4.1).  The engine replaces that with vectorized JDBC:

- batch: ``write_jdbc`` / ``read_jdbc`` (partitioned parallel reads,
  batched executemany writes);
- streaming: ``jdbc_idempotent_batch`` as a foreachBatch body — key-level
  dedup makes redelivered micro-batches exactly-once;
- ``jdbc_raise_high_water``: the per-topic key high-water mark that lets
  record_stream_jdbc skip that dedup for a batch whose keys all lie
  above every stored key.

Testing backend: embedded Apache Derby (ships with Spark's jars), so the
JDBC path is exercised for real in this container; production swaps the
URL/driver for PostgreSQL/MySQL unchanged.

Scale notes (100 TB):
- writes: bound connection count with ``num_partitions`` (a 1000-executor
  write would otherwise open 1000 connections) and size ``batchsize`` to
  the row width.  The anti-join body reads every key of its target table
  per batch, O(table); the high-water mark is one row per topic, read
  and raised over one driver-side connection (milliseconds, no Spark
  job), so a streaming recorder with increasing keys pays the anti-join
  only on redeliveries.  Idempotency on keys that arrive out of order
  belongs in the STORE at scale (INSERT .. ON CONFLICT / MERGE).
- reads: always give ``partition_column``/bounds for parallelism; a bare
  read_jdbc is a single-connection scan.
"""

from __future__ import annotations

import contextlib
import json
import os

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession

__all__ = [
    "DERBY_DRIVER",
    "derby_url",
    "write_jdbc",
    "read_jdbc",
    "jdbc_idempotent_batch",
    "jdbc_raise_high_water",
]

DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"

# One row per recorded topic: its root table's name and the JSON list of
# the largest topic key any batch has begun writing.  The name lies
# outside record_stream_jdbc's ``rs_`` namespace, so no topic can take it.
_HIGH_WATER_TABLE = "rosql_high_water"
_MARK_CHARS = 32672  # Derby's VARCHAR limit


def derby_url(db_path: str, create: bool = True) -> str:
    """Embedded-Derby URL for tests / single-node use."""
    suffix = ";create=true" if create else ""
    return f"jdbc:derby:{db_path}{suffix}"


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "append",
    driver: str | None = None,
    batchsize: int = 10_000,
    num_partitions: int | None = 8,
) -> None:
    """Vectorized JDBC write (R7 twin: batched executemany, not per-row)."""
    w = (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", str(batchsize))
    )
    if driver:
        w = w.option("driver", driver)
    if num_partitions:
        w = w.option("numPartitions", str(num_partitions))
    w.mode(mode).save()


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    driver: str | None = None,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int = 8,
) -> DataFrame:
    """JDBC read; give ``partition_column`` + bounds for a parallel scan
    (each partition becomes one range-predicated query — without it the
    read is a single connection)."""
    r = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    if driver:
        r = r.option("driver", driver)
    if partition_column is not None:
        r = (
            r.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions))
        )
    return r.load()


def jdbc_idempotent_batch(
    batch_df: DataFrame,
    batch_id: int,
    url: str,
    table: str,
    key_cols: list[str],
    driver: str | None = None,
) -> None:
    """foreachBatch body: append only rows whose keys are absent in the
    target table (exactly-once over at-least-once redelivery: a
    redelivered batch finds all its keys present and appends nothing)."""
    spark = batch_df.sparkSession
    fresh = batch_df.dropDuplicates(key_cols)
    try:
        existing = read_jdbc(spark, url, table, driver=driver).select(*key_cols)
        fresh = fresh.join(existing, key_cols, "left_anti")
    except Exception as exc:
        # ONLY "table does not exist" may be swallowed (first batch
        # creates it).  A transient JDBC failure (lock contention,
        # connection drop) must fail loudly: silently skipping the
        # anti-join would re-append every redelivered row and break the
        # exactly-once contract record_stream_jdbc advertises (round-8
        # review).
        if not _missing_table(exc):
            raise
    write_jdbc(fresh, url, table, mode="append", driver=driver)


def _missing_table(exc: Exception) -> bool:
    # Derby and Postgres say "does not exist", MySQL "doesn't exist"
    msg = str(exc).lower()
    return "not exist" in msg or "doesn't exist" in msg


def jdbc_raise_high_water(
    spark: SparkSession,
    url: str,
    tables: list[str],
    key_cols: list[str],
    hi: tuple,
    driver: str | None = None,
) -> tuple | None:
    """Raise the high-water mark of the topic stored in ``tables`` (root
    first; the root names the mark) to at least ``hi``, the largest key
    of the batch about to be written, and return the mark it replaced.

    Call it before the batch writes a row: the mark then bounds every
    topic key stored in ``tables``, so a batch with unique keys all above
    the returned mark cannot meet a stored key and may be appended as is.
    A topic with no keyed row stored yet returns ``()``, below every key.
    ``None`` means no mark bounded the tables, and the batch must dedup
    against them: the tables were recorded before marks existed, and
    the mark is seeded now from their largest stored key.  Keys are
    tuples of ints or strs, compared as Python tuples.  Databases may
    order strings by another collation, so string keys are not seeded: a
    database that already holds such a topic keeps the dedup path for it.
    """
    new = json.dumps(list(hi))
    if len(new) > _MARK_CHARS:
        raise ValueError(f"key {hi!r} is too long for the {_HIGH_WATER_TABLE} mark")
    root = tables[0]
    with _connection(spark, url, driver) as conn:
        # compare-and-set: a mark another writer moved meanwhile is read again
        while True:
            try:
                row = _first_row(
                    conn,
                    f"SELECT high_water FROM {_HIGH_WATER_TABLE} WHERE table_name = ?",
                    root,
                )
            except Py4JJavaError as exc:
                if not _missing_table(exc):
                    raise
                _update(
                    conn,
                    f"CREATE TABLE {_HIGH_WATER_TABLE} (table_name VARCHAR(256) "
                    f"NOT NULL PRIMARY KEY, high_water VARCHAR({_MARK_CHARS}) NOT NULL)",
                )
                row = None
            if row is None:
                break
            mark = tuple(json.loads(row[0]))
            if mark >= hi or _update(
                conn,
                f"UPDATE {_HIGH_WATER_TABLE} SET high_water = ? "
                "WHERE table_name = ? AND high_water = ?",
                new,
                root,
                row[0],
            ):
                return mark
        # no mark yet: seed it from the largest key already stored
        integral = all(isinstance(v, int) for v in hi)
        stored = [
            _largest_key(conn, t, key_cols, integral) for t in _existing(conn, tables)
        ]
        stored = [k for k in stored if k is not None]
        if stored and not integral:
            return None
        _update(
            conn,
            f"INSERT INTO {_HIGH_WATER_TABLE} (table_name, high_water) VALUES (?, ?)",
            root,
            json.dumps(list(max([hi, *stored]))),
        )
    return None if stored else ()


def _existing(conn, tables: list[str]) -> list[str]:
    """Those of ``tables`` (unquoted names) that exist in the connection's
    schema: one metadata lookup by their common prefix (a missing table
    found by a failing query costs a JVM exception round trip each)."""
    md = conn.getMetaData()
    if md.storesUpperCaseIdentifiers():
        fold = str.upper
    elif md.storesLowerCaseIdentifiers():
        fold = str.lower
    else:
        fold = str
    prefix = os.path.commonprefix([fold(t) for t in tables])
    rs = md.getTables(None, conn.getSchema(), prefix + "%", None)
    names = set()
    try:
        while rs.next():
            names.add(rs.getString("TABLE_NAME"))
    finally:
        rs.close()
    return [t for t in tables if fold(t) in names]


def _largest_key(conn, table: str, key_cols: list[str], ordered: bool):
    """The largest fully non-NULL key stored in ``table`` (any stored key
    when not ``ordered``), or None when it holds none: one
    ``ORDER BY .. FETCH FIRST`` query."""
    q = conn.getMetaData().getIdentifierQuoteString().strip()
    cols = [f"{q}{c}{q}" for c in key_cols]
    sql = f"SELECT {', '.join(cols)} FROM {table} WHERE " + " AND ".join(
        f"{c} IS NOT NULL" for c in cols
    )
    if ordered:
        sql += " ORDER BY " + ", ".join(f"{c} DESC" for c in cols)
    return _first_row(conn, sql + " FETCH FIRST 1 ROWS ONLY")


@contextlib.contextmanager
def _connection(spark: SparkSession, url: str, driver: str | None):
    """One driver-side JDBC connection, closed on exit; autocommit is on,
    so every statement commits as it runs.  The module's only use of
    ``spark._jvm``.  A named driver is loaded through the thread's context
    class loader and asked for the connection directly: ``DriverManager``
    cannot see a driver jar added with ``spark.jars``."""
    jvm = spark._jvm
    props = jvm.java.util.Properties()
    if driver:
        loader = jvm.java.lang.Thread.currentThread().getContextClassLoader()
        cls = jvm.java.lang.Class.forName(driver, True, loader)
        conn = cls.newInstance().connect(url, props)
        if conn is None:
            raise ValueError(f"JDBC driver {driver} does not accept {url}")
    else:
        conn = jvm.java.sql.DriverManager.getConnection(url, props)
    try:
        yield conn
    finally:
        conn.close()


def _first_row(conn, sql: str, *params: str) -> tuple | None:
    ps = conn.prepareStatement(sql)
    try:
        for i, p in enumerate(params, 1):
            ps.setString(i, p)
        rs = ps.executeQuery()
        if not rs.next():
            return None
        n = rs.getMetaData().getColumnCount()
        return tuple(rs.getObject(i) for i in range(1, n + 1))
    finally:
        ps.close()


def _update(conn, sql: str, *params: str) -> int:
    ps = conn.prepareStatement(sql)
    try:
        for i, p in enumerate(params, 1):
            ps.setString(i, p)
        return ps.executeUpdate()
    finally:
        ps.close()
