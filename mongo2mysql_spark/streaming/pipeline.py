"""Structured Streaming layer (SURVEY.md §2 'Streaming' — absent in the
reference, engine extension per SURVEY §7 Step 7).

The batch ETL transforms (routing A10, flatten A8) are stateless
projections, so they lift to streams unchanged — the same column
expressions are applied to a ``readStream`` frame.  Stateful pieces use
the engine's streaming-native forms: watermarks for late data, tumbling
/ sliding / session windows, ``foreachBatch`` reusing the batch JDBC
upsert sink for exactly-once-per-epoch delivery.

Test harness: the parquet fixtures drive a stream via
``processAllAvailable`` into a memory sink, which makes streaming
results oracle-checkable against batch SQL (the windowed agg of a
bounded stream equals the batch windowed agg).
"""

from __future__ import annotations

import itertools
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mongo2mysql_spark.artifacts import await_query, scratch_dir

_MEM_COUNTER = itertools.count()


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events table as a file stream (ns-timestamp handling identical to
    the batch source: read ns longs, truncate to µs)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, "events.parquet")
    raw_schema = spark.read.parquet(path).schema
    # file streams need a directory source; glob-filter to the one table
    stream = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    ts_type = dict(stream.dtypes).get("ts")
    if ts_type == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        # same normalization as the batch source (sources/parquet.py):
        # UTC-pinned session makes the NTZ->TIMESTAMP cast value-preserving,
        # and withWatermark requires TIMESTAMP.
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def tumbling_counts(stream: DataFrame, width: str = "1 hour",
                    watermark: str = "2 hours") -> DataFrame:
    """Tumbling-window counts with a watermark bounding state retention
    (late rows beyond the watermark are dropped at 100 TB/day rates the
    watermark is what keeps state finite)."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum(F.col("value").cast("decimal(30,10)")), 4).cast("double").alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


def sliding_counts(stream: DataFrame, width: str = "1 hour", slide: str = "30 minutes",
                   watermark: str = "2 hours") -> DataFrame:
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width, slide).alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "n")
    )


def session_windows(stream: DataFrame, gap: str = "30 minutes",
                    watermark: str = "2 hours") -> DataFrame:
    """Session windows per user (gap-based).  ``session_window.start``
    equals the batch sessionization's min(ts) per session."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("session_start"), "user_id", "n_events")
    )


def streaming_dedup(stream: DataFrame, keys: list[str], ts_col: str = "ts",
                    watermark: str = "2 hours") -> DataFrame:
    """Streaming exact dedup: keep the first arrival per key.

    The streaming analogue of ``operators/dedup.dedup_exact``.  Plain
    ``dropDuplicates`` on a stream keeps ALL keys ever seen in state —
    unbounded growth at ingest rates.  ``dropDuplicatesWithinWatermark``
    bounds state to the late-data horizon: a duplicate arriving within
    ``watermark`` of the first sighting is dropped, later state is
    evicted — the only dedup contract that stays finite at 100 TB/day.
    """
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def stream_static_enrich(
    stream: DataFrame, dim: DataFrame, on: str, dim_cols: list[str],
    how: str = "inner",
) -> DataFrame:
    """Stream-static equi-join: enrich a stream with a slowly-changing
    dimension.  Planned as a broadcast hash join inside every
    micro-batch — completely stateless (no watermark, no join state),
    and the static side is re-resolved each epoch so dimension updates
    between batches are picked up.  At scale, ``dim.persist()`` before
    passing it in keeps per-epoch re-reads off the source."""
    small = dim.select(on, *dim_cols)
    return stream.join(F.broadcast(small), on, how)


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    condition: str,
    left_ts: str,
    right_ts: str,
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream inner join under a time-interval condition (e.g.
    purchase within 1 hour of a view).  Both sides are watermarked so
    the join state store is bounded: a buffered left row is evicted once
    the right watermark passes its interval upper bound — the only
    stream-stream join contract whose state stays finite at ingest
    scale.  Column names must be disjoint (``condition`` is a raw SQL
    expression over both sides)."""
    l_wm = left.withWatermark(left_ts, watermark)
    r_wm = right.withWatermark(right_ts, watermark)
    return l_wm.join(r_wm, F.expr(condition), "inner")


def streaming_route(stream: DataFrame, key_col: str, collection: str) -> DataFrame:
    """The batch routing operator applied to a stream — stateless, so
    identical semantics (demonstrates the ETL lift)."""
    from mongo2mysql_spark.operators.routing import add_table_column

    return add_table_column(stream, key_col, collection)


def run_to_memory(
    agg: DataFrame, mode: str = "complete", shuffle_partitions: int | None = None
) -> DataFrame:
    """Drive a bounded stream to completion synchronously; return the
    materialized result as a batch DataFrame.

    ``shuffle_partitions`` sizes the stateful-operator partition count
    for THIS query (state-store instance count == shuffle partitions,
    fixed at first start by the checkpoint).  Streaming state wants
    sizing to the stream's key cardinality, not the session-wide batch
    default — a bounded fixture replay runs ~3× faster at 8 than at 32,
    while a production deployment sizes it up with ingest volume.  The
    override is set on the shared session conf, so calls on one session
    must not overlap; it is restored on every exit, a query that fails
    to start included."""
    spark = agg.sparkSession
    name = f"__stream_out_{next(_MEM_COUNTER)}"
    saved = spark.conf.get("spark.sql.shuffle.partitions")
    if shuffle_partitions:
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    try:
        q = (
            agg.writeStream.outputMode(mode)
            .format("memory")
            .queryName(name)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved)
    return spark.table(name)


def foreach_batch_upsert(stream: DataFrame, table: str, connection_factory,
                         mode: str = "replace", batch_size: int = 1000):
    """Streaming sink reusing the batch JDBC upsert (A15): REPLACE-on-PK
    makes epoch replays idempotent — exactly-once effective delivery."""
    from mongo2mysql_spark.sources.jdbc import write_upsert

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        write_upsert(batch_df, table, connection_factory, mode=mode, batch_size=batch_size)

    return stream.writeStream.foreachBatch(handle)


def stream_collection_export(
    spark: SparkSession,
    source_path: str,
    name: str,
    porter,
    sink,
    max_files_per_trigger: int = 1,
) -> None:
    """Streaming-mode export of one collection (SURVEY.md §7 step 7):
    replay the collection's parquet files as a bounded stream and run
    the UNCHANGED batch porter inside ``foreachBatch`` — route/flatten/
    spill/guards are stateless projections, so each micro-batch gets
    identical semantics, and the schema pass re-runs per batch (schema
    evolution BETWEEN micro-batches, the streaming analogue of the
    reference's per-row ensureRowStructure).

    ``sink(table_name, df)`` must append (or upsert) — per-table output
    accumulates across batches.  Quirk mirrored from the reference:
    ``_num`` restarts per micro-batch exactly as Porter.php:509 resets
    counters per run; REPLACE-style sinks keep epoch replays idempotent.

    ``availableNow`` processes the whole backlog in rate-limited batches
    and terminates — on a live directory, drop it and the same query
    runs continuously.
    """
    schema = spark.read.parquet(source_path).schema

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        export = porter.export_collection(batch_df, name)
        for t, tdf in export.tables.items():
            sink(t, tdf)
        export.unpersist()

    # the file stream source wants a directory or a GLOB — an exact
    # file path trips its basePath-must-be-a-directory check, so a
    # single-file collection streams via a self-matching glob
    stream_path = source_path if os.path.isdir(source_path) else source_path + "*"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(stream_path)
    )
    # a fresh checkpoint per call (no run resumes from it), removed
    # once the query ends
    with scratch_dir(f"m2m_stream_{name}_") as checkpoint:
        q = (
            stream.writeStream.foreachBatch(handle)
            .trigger(availableNow=True)
            .option("checkpointLocation", checkpoint)
            .start()
        )
        await_query(q, f"stream export of {name}", timeout=None)
