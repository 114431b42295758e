"""Incremental (CDC-shaped) collection sync — A18's rerun story done
right.  The reference re-exports EVERYTHING on rerun: ``Porter.php:
508-511`` resets its progress counter and rewalks the full collection,
so a nightly re-sync of a 100 TB collection costs 100 TB.  The engine
already holds the watermark machinery (``resume_from`` in
``sources/mongodb.iter_collection_batches``, REPLACE-idempotent sinks,
rerun-safe ``CREATE TABLE IF NOT EXISTS`` DDL); this module lifts it
to a first-class incremental export:

- the sink's durable ``MAX(_id)`` is the high-water mark (the same
  key the crash-resume e2e uses — ``tests/test_sinks_sources.py``);
- the source walk starts at ``{_id: {"$gt": high_water}}``, so a sync
  after N new documents READS only those N (asserted on the fake
  collection's issued queries in tests);
- child-spill rows are re-derived only for the touched parents (they
  flow from the same new-docs batches), and REPLACE-on-PK absorbs any
  overlap from a batch that died mid-write — the final state equals a
  from-scratch export, key for key.

Monotonically increasing ``_id`` is the contract (Mongo ObjectIds are
time-prefixed; the reference's own resume depends on the same
ordering).  Updates to ALREADY-EXPORTED documents are out of scope
for a high-water sync — that needs a change stream; the seam is the
same ``resume token`` shape this module's watermark models.

Scale shape: the driver-side cursor walk is the reference-parity
fallback; at cluster scale the same watermark becomes an aggregation-
pipeline ``$match`` pushed into the partitioned connector read
(``sources/mongodb.reader_options(pipeline=...)``) — only the tail
past the watermark is scanned either way.
"""

from __future__ import annotations

import json
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from mongo2mysql_spark.plans.ddl import quote_ident
from mongo2mysql_spark.porter import SparkPorter
from mongo2mysql_spark.session import local_frame
from mongo2mysql_spark.sources.jdbc import execute_ddl, write_upsert
from mongo2mysql_spark.sources.mongodb import iter_collection_batches


def sink_high_water(
    connection_factory: Callable[[], object],
    table: str,
    id_col: str = "_id",
):
    """The sink's durable high-water key: ``MAX(id_col)`` of the
    destination parent table, or None when the table is missing or
    empty (first export).  One indexed-PK lookup — the only sink
    contact the watermark needs."""
    conn = connection_factory()
    try:
        cur = conn.cursor()
        try:
            cur.execute(
                f"SELECT MAX({quote_ident(id_col)}) FROM {quote_ident(table)}"
            )
            row = cur.fetchone()
        except Exception:  # noqa: BLE001 - missing table == first export
            return None
        return row[0] if row else None
    finally:
        conn.close()


_JSON_LINES = T.StructType([T.StructField("value", T.StringType(), False)])


def _default_batch_df(spark: SparkSession, batch: list[dict]) -> DataFrame:
    """Documents → DataFrame through the JSON reader (the same dynamic
    schema-per-batch path the porter's schemaless handling expects).
    The JSON lines are a local relation read as a ``Dataset[String]``,
    so schema inference and every later read of the batch run in the
    JVM, with no Python-worker task.  One partition: a batch is small,
    and a one-partition batch is numbered without a range exchange."""
    lines = local_frame(spark, [(json.dumps(d),) for d in batch], _JSON_LINES)
    # PySpark's read.json takes only paths or RDDs, not a Dataset[String],
    # so the JVM reader is called directly
    jlines = getattr(lines.coalesce(1)._jdf, "as")(
        spark._jvm.org.apache.spark.sql.Encoders.STRING()
    )
    return DataFrame(spark._jsparkSession.read().json(jlines), spark)


def incremental_export(
    spark: SparkSession,
    collection,
    collection_name: str,
    porter: SparkPorter,
    connection_factory: Callable[[], object],
    batch_size: int = 1000,
    id_col: str = "_id",
    batch_df: Callable[[list[dict]], DataFrame] | None = None,
    ddl_executor: Callable[[list[str]], None] | None = None,
) -> dict:
    """Sync ``collection`` into the sink incrementally: read the
    sink's high-water key, export only documents past it through the
    full porter pipeline (route → flatten → spill → guards → _num →
    schema), REPLACE-upsert every derived table.  Returns
    ``{"docs", "tables", "resumed_from"}``.

    DDL runs once per sync from the first batch's inferred schema —
    every statement is ``CREATE TABLE IF NOT EXISTS`` (plans/ddl.py),
    so reruns and already-present tables are no-ops, and a child table
    that first appears in NEW documents is still created.
    ``ddl_executor`` overrides how those statements run (e.g. the
    CLI's sqlite dialect shim); the default executes them over
    ``connection_factory``.

    Each batch frame is persisted once and released after the batch's
    writes, so the porter's table families read the documents from
    the cache instead of re-running the batch's source once per
    family.  Every table is written through one driver-side
    connection (``write_upsert(..., max_connections=1)``).
    """
    hw = sink_high_water(connection_factory, collection_name, id_col)
    make_df = batch_df or (lambda b: _default_batch_df(spark, b))
    run_ddl = ddl_executor or (
        lambda stmts: execute_ddl(stmts, connection_factory)
    )
    ddl_done = False
    n_docs = 0
    tables: set[str] = set()
    for batch in iter_collection_batches(
        collection, batch_size=batch_size, resume_from=hw,
        sort_field=id_col,
    ):
        docs = make_df(batch).persist()
        try:
            export = porter.export_collection(docs, collection_name)
            try:
                if not ddl_done and export.ddl:
                    run_ddl(export.ddl)
                    ddl_done = True
                for t, tdf in export.tables.items():
                    write_upsert(tdf, t, connection_factory, max_connections=1)
                    tables.add(t)
            finally:
                export.unpersist()
        finally:
            docs.unpersist()
        n_docs += len(batch)
    return {"docs": n_docs, "tables": tables, "resumed_from": hw}
