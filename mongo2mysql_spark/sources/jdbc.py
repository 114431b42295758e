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

import itertools
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


def fragment_layout(lo: int, hi: int, num_fragments: int) -> tuple[int, int]:
    """The shared (fragment count, stride) arithmetic behind BOTH the
    read planner and the parallel upsert executor — fragment i covers
    ``[lo + i·stride, lo + (i+1)·stride)`` with the first and last
    ranges open-ended.  stride = (hi − lo) DIV n (Spark's own
    partitionColumn arithmetic); degenerate spans collapse to one
    fragment.  Keeping one implementation means a read plan and a
    write plan over the same key domain agree boundary-for-boundary.
    """
    if num_fragments == 1 or hi == lo:
        return 1, max(1, hi - lo)
    stride = (hi - lo) // num_fragments
    if stride == 0:
        stride = 1
        num_fragments = (hi - lo) or 1
    return num_fragments, stride


def plan_read_partitions(
    lo: int,
    hi: int,
    num_partitions: int,
    key_col: str,
    extra_predicate: str | None = None,
) -> list[str]:
    """Partition predicates for a parallel JDBC source read — the
    planner behind ``spark.read.jdbc(partitionColumn=...)``, exposed so
    custom readers (and the mongo exporter's SQL-side mirror) can plan
    reads over any connector: ``num_partitions`` contiguous key ranges
    covering [lo, hi] with every boundary computed by the SAME integer
    stride arithmetic Spark uses (stride = (hi − lo) DIV n; the last
    partition absorbs the remainder, the first and last ranges are
    open-ended so rows OUTSIDE the sampled min/max still land in a
    partition — a reader that drops them silently loses late inserts).

    Each returned string is a WHERE-clause fragment; a reader runs one
    query per fragment in parallel.  ``extra_predicate`` is ANDed onto
    every fragment (pushdown of the caller's filter).
    """
    if num_partitions < 1:
        raise ValueError(f"num_partitions must be >= 1, got {num_partitions}")
    if hi < lo:
        raise ValueError(f"hi < lo: [{lo}, {hi}]")
    extra = f" AND ({extra_predicate})" if extra_predicate else ""
    num_partitions, stride = fragment_layout(lo, hi, num_partitions)
    if num_partitions == 1:
        # collapsed plans (explicit n=1, hi == lo, or hi-lo == 1 after
        # the stride floor) must be the SAME catch-all — a lone
        # "key < lo+1" fragment would drop every row >= lo+1
        # (including hi itself and late inserts), violating the
        # open-ended coverage contract documented above
        return [f"1=1{extra}" if extra else "1=1"]
    preds = []
    bound = lo
    for i in range(num_partitions):
        nxt = bound + stride
        if i == 0:
            preds.append(f"{key_col} < {nxt}{extra}")
        elif i == num_partitions - 1:
            preds.append(f"{key_col} >= {bound}{extra}")
        else:
            preds.append(
                f"{key_col} >= {bound} AND {key_col} < {nxt}{extra}"
            )
        bound = nxt
    return preds


def write_upsert_partitioned(
    df: DataFrame,
    table: str,
    key_col: str,
    connection_factory: Callable[[], object],
    num_fragments: int = 8,
    mode: str = "replace",
    batch_size: int = 1000,
    paramstyle: str = "qmark",
    key_domain: tuple[int, int] | None = None,
) -> int:
    """EXECUTE a fragment-planned parallel upsert: the write-side twin
    of :func:`read_partitioned`.  The destination-key domain [lo, hi]
    (one bounded 1-row collect) is split by :func:`fragment_layout` —
    the SAME stride arithmetic the read planner uses — and each
    fragment becomes exactly ONE Spark task (identity-partitioned by
    fragment index, not hash — no two fragments share a task, no
    fragment splits across tasks) that opens its own DBAPI connection
    and writes ``batch_size``-row ``executemany`` batches of
    ``REPLACE INTO`` / ``ON DUPLICATE KEY UPDATE``
    (Porter.php:207/266 semantics).

    Why fragment by KEY RANGE rather than letting ``foreachPartition``
    write whatever partitioning the upstream plan left: (a) connection
    count is exactly the fragment count; (b) each task touches a
    contiguous PK range, so InnoDB-style PK-range locks never contend
    across tasks and page splits stay local — the write-side analogue
    of partition-pruned reads; (c) a killed-and-retried task re-writes
    exactly its own key range, and REPLACE-on-PK makes that retry
    idempotent (the same guarantee that makes the reference's rerun
    safe, and what makes a side-effecting sink safe under speculative
    execution).

    NULL keys route to fragment 0 (they violate a PK anyway — the
    sink surfaces the constraint error rather than dropping rows
    silently).  Returns the fragment count actually used.

    ``key_domain`` = (lo, hi) lets the caller supply the key bounds it
    already knows (the porter's schema pass / the export's high-water
    bookkeeping see every key anyway) — then the input is scanned
    EXACTLY ONCE, by the write.  Without it the domain agg would run
    one job over ``df`` and the fragment write would recompute the
    full upstream lineage (flatten/route pipelines — real cost at
    export scale), so the frame is persisted across the two passes and
    released after the write.  Keys outside a supplied domain still
    land in the open-ended first/last fragments (same contract as the
    read planner).
    """
    columns = list(df.columns)
    if key_col not in columns:
        raise ValueError(f"key_col {key_col!r} not in columns {columns}")
    if num_fragments < 1:
        raise ValueError(f"num_fragments must be >= 1, got {num_fragments}")
    sql = upsert_sql(table, columns, mode=mode, paramstyle=paramstyle)
    from pyspark.sql import functions as F

    persisted = False
    if key_domain is not None:
        lo, hi = int(key_domain[0]), int(key_domain[1])
        if hi < lo:
            raise ValueError(f"key_domain hi < lo: {key_domain}")
    else:
        df = df.persist()
        persisted = True
        dom = df.agg(
            F.min(F.col(key_col).cast("long")).alias("lo"),
            F.max(F.col(key_col).cast("long")).alias("hi"),
        ).first()
        lo, hi = dom["lo"], dom["hi"]
    if lo is None:
        # no non-NULL keys: either truly empty (nothing to write) or
        # all-NULL keys — one fragment handles both without a plan
        n, stride = 1, 1
    else:
        n, stride = fragment_layout(int(lo), int(hi), num_fragments)
        lo = int(lo)

    def assign(row) -> tuple[int, tuple]:
        k = row[key_col]
        frag = 0
        if n > 1 and k is not None:
            frag = min(n - 1, max(0, (int(k) - lo) // stride))
        return (frag, tuple(row[c] for c in columns))

    def _write_partition(pairs: Iterator) -> None:
        first = next(pairs, None)
        if first is None:  # empty tasks open no connection
            return
        conn = connection_factory()
        try:
            rows = (vals for _frag, vals in itertools.chain([first], pairs))
            _write_batches(conn, sql, rows, batch_size)
        finally:
            conn.close()

    try:
        (
            df.rdd.map(assign)
            # identity partitioner: fragment i IS task i (portable_hash
            # would fold two fragments into one task and leave others
            # empty, breaking the one-connection-per-fragment contract)
            .partitionBy(n, partitionFunc=lambda frag: frag)
            .foreachPartition(_write_partition)
        )
    finally:
        if persisted:
            df.unpersist()
    return n


def read_partitioned(
    spark,
    table: str,
    columns: list[str],
    schema: str,
    predicates: list[str],
    connection_factory: Callable[[], object],
    fetch_size: int = 10_000,
) -> DataFrame:
    """EXECUTE a partitioned read plan in parallel: one task per
    WHERE-clause fragment (``plan_read_partitions`` output), each task
    opening its OWN DBAPI connection on the executor and streaming its
    fragment's rows in ``fetch_size`` batches — the execution half of
    ``spark.read.jdbc(partitionColumn=...)``, for any DBAPI connector
    (tests drive it against sqlite; the planner's disjoint-cover
    contract means the union of fragments is exactly the table).

    ``connection_factory`` must be picklable to executors (a module-
    level function or ``functools.partial`` over a path/DSN — NOT an
    open connection: connections don't serialize, and per-task opening
    is what makes retries/speculation safe for a read).  ``schema`` is
    the explicit result schema (DDL string) — inference would collect
    rows on the driver.

    Scale: fragment count bounds concurrent connections; each task's
    memory is one fetchmany batch, never the fragment.
    """
    from mongo2mysql_spark.plans.ddl import quote_ident

    if not predicates:
        raise ValueError("need at least one partition predicate")
    collist = ", ".join(quote_ident(c) for c in columns)
    frags = list(predicates)

    def fetch(idx_iter):
        for i in idx_iter:
            conn = connection_factory()
            try:
                cur = conn.cursor()
                cur.execute(
                    f"SELECT {collist} FROM {quote_ident(table)} "
                    f"WHERE {frags[i]}"
                )
                while True:
                    rows = cur.fetchmany(fetch_size)
                    if not rows:
                        break
                    yield from (tuple(r) for r in rows)
            finally:
                conn.close()

    rdd = spark.sparkContext.parallelize(
        range(len(frags)), len(frags)
    ).mapPartitions(fetch)
    return spark.createDataFrame(rdd, schema)
