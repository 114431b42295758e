"""MySQL sink: upsert / truncate / append (SURVEY.md §2 A15/A16).

The reference inserts one row at a time with REPLACE semantics
(delete+insert on PK conflict, Porter.php:207/266) — idempotent per
``_id`` across reruns.  Spark's JDBC writer has no native upsert, so:

- ``write_upsert``: batched ``REPLACE INTO`` (or ``INSERT ... ON
  DUPLICATE KEY UPDATE``) over a DBAPI connection factory, one
  connection per partition via ``df.foreachPartition``.  REPLACE-on-PK
  makes Spark task *retries* idempotent too — the same guarantee the
  reference gets, which is what makes a side-effecting sink safe under
  speculative execution.  With ``max_connections=1`` (the reference's
  one writer, and the ``cli --sqlite`` and sync sink) the driver
  writes through its one connection instead, streaming the frame's
  partitions to itself one at a time: the factory is called on the
  driver and need not be picklable, and no Python-worker task runs.
  Each partition reaches the driver whole, as one task result, so the
  largest partition must fit under ``spark.driver.maxResultSize`` and
  in the driver's heap.
- ``write_append`` / ``write_overwrite``: the stock Spark JDBC writer
  (``truncate`` option for --dataonly's truncate-then-load,
  Porter.php:174-178) — used for fresh loads where append suffices.

Scale levers: ``max_connections=n`` bounds the connection count to n;
``batch_size`` amortizes round-trips (vs. the reference's
one INSERT per row — its README's own bottleneck, README.md:63-64).

No MySQL server or JDBC driver exists in the test container, so tests
exercise ``write_upsert`` against sqlite3 (same REPLACE INTO syntax)
and statement generation is unit-tested as strings.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator

from pyspark.sql import DataFrame


def upsert_sql(table: str, columns: list[str], mode: str = "replace",
               paramstyle: str = "qmark") -> str:
    """One parameterized upsert statement.  Identifiers go through
    plans/ddl.quote_ident (backtick-doubling) — Mongo field names can
    contain backticks and flow straight into column names here."""
    from mongo2mysql_spark.plans.ddl import quote_ident

    ph = "?" if paramstyle == "qmark" else "%s"
    collist = ", ".join(quote_ident(c) for c in columns)
    params = ", ".join([ph] * len(columns))
    qt = quote_ident(table)
    if mode == "replace":
        return f"REPLACE INTO {qt} ({collist}) VALUES ({params})"
    if mode == "upsert":
        assignments = ", ".join(
            f"{quote_ident(c)}=VALUES({quote_ident(c)})" for c in columns
        )
        return (
            f"INSERT INTO {qt} ({collist}) VALUES ({params}) "
            f"ON DUPLICATE KEY UPDATE {assignments}"
        )
    if mode == "append":
        return f"INSERT INTO {qt} ({collist}) VALUES ({params})"
    raise ValueError(f"unknown mode: {mode}")


def stringify_temporals(df: DataFrame) -> DataFrame:
    """Render TIMESTAMP/DATE columns as seconds-precision strings for
    DBAPI drivers without native temporal binding (sqlite3).  Matches
    the reference's flatten contract for Mongo dates — ISO-8601 text at
    seconds precision, sub-second truncated (Porter.php:290-292, SURVEY
    §2.1 trap 2).  MySQL drivers bind datetimes natively; this shim is
    only for the sqlite stand-in sink."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from mongo2mysql_spark.plans.ddl import column

    cols = []
    for f in df.schema.fields:
        col = column(f.name)
        if isinstance(f.dataType, (T.TimestampType, T.TimestampNTZType)):
            cols.append(F.date_format(col, "yyyy-MM-dd HH:mm:ss").alias(f.name))
        elif isinstance(f.dataType, T.DateType):
            cols.append(col.cast("string").alias(f.name))
        else:
            cols.append(col)
    return df.select(*cols)


def _write_batches(conn, sql: str, rows: Iterable, batch_size: int) -> int:
    """The sink's wire protocol over one open connection: ``sql``
    executed over ``batch_size``-row ``executemany`` batches, the
    remainder flushed last, one commit per batch (crash granularity =
    one batch).  Returns the number of rows written."""
    cur = conn.cursor()
    batch = []
    written = 0
    for row in rows:
        batch.append(tuple(row))
        if len(batch) >= batch_size:
            cur.executemany(sql, batch)
            conn.commit()
            written += len(batch)
            batch = []
    if batch:
        cur.executemany(sql, batch)
        conn.commit()
        written += len(batch)
    return written


def write_upsert(
    df: DataFrame,
    table: str,
    connection_factory: Callable[[], object],
    mode: str = "replace",
    batch_size: int = 1000,
    paramstyle: str = "qmark",
    max_connections: int | None = None,
) -> int | None:
    """Batched upsert over DBAPI connections from ``connection_factory``,
    ``batch_size``-row ``executemany`` batches and one commit per batch.

    ``max_connections=1``: the driver opens the one connection and
    streams the frame's partitions to itself with ``toLocalIterator``,
    and no Python-worker task runs.  Returns the number of rows
    written, counted as they pass.  The factory is called on the
    driver and need not be picklable.  A partition is computed only
    when the write asks for it, so a write that stops early leaves no
    job running.  Each partition arrives whole, as one task result:
    the largest partition (pickled) must fit under
    ``spark.driver.maxResultSize`` (1g unless configured) and in the
    driver's heap.  A collection read as one split is one partition
    per table, and a child table exploded from arrays can outgrow its
    split.

    Otherwise ``foreachPartition``: each partition (at most
    ``max_connections`` after a ``coalesce``) opens one connection on
    an executor, so ``connection_factory`` must be picklable (a
    module-level function or functools.partial over picklables).
    Returns None: no count comes back from the executors.
    """
    columns = list(df.columns)
    sql = upsert_sql(table, columns, mode=mode, paramstyle=paramstyle)
    if max_connections != 1:
        if max_connections is not None:
            df = df.coalesce(max_connections)

        def _write_partition(rows: Iterator) -> None:
            conn = connection_factory()
            try:
                _write_batches(conn, sql, rows, batch_size)
            finally:
                conn.close()

        df.foreachPartition(_write_partition)
        return None

    conn = connection_factory()
    try:
        return _write_batches(conn, sql, df.toLocalIterator(), batch_size)
    finally:
        conn.close()


def write_append(df: DataFrame, url: str, table: str, properties: dict[str, str],
                 truncate: bool = False, batch_size: int = 10000,
                 num_partitions: int | None = None) -> None:  # pragma: no cover - needs JDBC jar
    """Stock Spark JDBC writer (fresh load / --dataonly truncate path)."""
    writer = (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", str(batch_size))
    )
    for k, v in properties.items():
        writer = writer.option(k, v)
    if num_partitions:
        writer = writer.option("numPartitions", str(num_partitions))
    if truncate:
        writer = writer.option("truncate", "true").mode("overwrite")
    else:
        writer = writer.mode("append")
    writer.save()


def execute_ddl(statements: list[str], connection_factory: Callable[[], object]) -> None:
    """Run the schema-pass DDL over one connection (A14)."""
    conn = connection_factory()
    try:
        cur = conn.cursor()
        for stmt in statements:
            cur.execute(stmt)
        conn.commit()
    finally:
        conn.close()
