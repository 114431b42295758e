"""Parquet-directory source — the test-harness stand-in for MongoDB.

The reference enumerates collections and full-scans each one
(Porter.php:344-349, 138-150 — SURVEY.md §2 A1/A2).  Here a "database"
is a directory of ``<table>.parquet`` files; enumeration is a listdir
and a scan is ``spark.read.parquet`` (columnar, with Catalyst filter
pushdown and column pruning — the scan only materializes what the query
plan needs, unlike the reference's full-document cursor).

Scale note: at 100 TB each table would be a partitioned parquet dataset
(many files); ``spark.read.parquet(dir)`` handles that shape unchanged,
and partition-pruning/predicate-pushdown keep scans proportional to the
query, not the dataset.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# The harness star schema + extension tables (TESTDATA.md / FIXTURES.md §A).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

def list_collections(sf_dir: str) -> list[str]:
    """Source enumeration (reference parity: A1, Porter.php:344-349)."""
    return sorted(
        f[: -len(".parquet")] for f in os.listdir(sf_dir) if f.endswith(".parquet")
    )


def load_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    limit: int | None = None,
    fanout: bool = False,
) -> DataFrame:
    """Full collection scan (A2) with optional source-pushed limit (A3,
    Porter.php:141-144 — Catalyst plants a LocalLimit above the scan).

    Parquet TIMESTAMP(NANOS) columns (e.g. ``events.ts``) are illegal
    for Spark's vectorized reader; we read them as nano longs
    (``legacy.parquet.nanosAsLong``) and truncate to microsecond
    timestamps — the same truncation DuckDB applies, so oracle
    comparisons agree.  This is a scan-level rewrite (pure column expr),
    scale-free.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.parquet(path)
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # integer div: ns longs exceed double's exact range, so no `/ 1000`
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            # µs-no-timezone parquet reads as TIMESTAMP_NTZ, which
            # unix_millis/withWatermark reject; the session timezone is
            # pinned UTC (session.py) and the DuckDB oracle compares
            # UTC-naive, so this cast is value-preserving.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    if limit is not None:
        df = df.limit(limit)
    if fanout:
        df = fan_out(df, source_path=path)
    return df


def _source_bytes(path: str) -> int:
    if os.path.isdir(path):
        return sum(
            os.path.getsize(os.path.join(path, f))
            for f in os.listdir(path)
            if not f.startswith((".", "_"))
        )
    return os.path.getsize(path)


def _max_partition_bytes(spark: SparkSession) -> int:
    raw = str(spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728"))
    digits = "".join(ch for ch in raw if ch.isdigit())
    scale = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30}.get(
        raw.rstrip("b").strip()[-1:].lower(), 1
    )
    return int(digits) * scale


def fan_out(
    df: DataFrame, source_path: str | None = None, min_parallelism: int | None = None
) -> DataFrame:
    """Spread a narrow source across all cores before CPU-heavy per-row
    derivation (shingle md5s, vector folds, wide aggregates).

    Parquet splits at row-group granularity, so a small table arriving
    as one file/row group runs its ENTIRE pre-shuffle pipeline — the
    expensive scan+explode+hash stage — as a single task no matter how
    many cores exist.  This helper is *gated*: it is a no-op whenever
    the scan will supply >= target partitions, which at 100 TB
    (thousands of splits) is always — the round-robin exchange only
    fires for sources narrower than the cluster, where its cost (one
    shuffle of the small input) buys full-width parallelism for every
    downstream stage.

    The gate is an ``os.stat`` estimate (source bytes / maxPartitionBytes)
    when ``source_path`` is given — deliberately NOT ``df.rdd
    .getNumPartitions()``, whose DataFrame->RDD conversion costs real
    driver time on every query construction.
    """
    spark = df.sparkSession
    target = min_parallelism or spark.sparkContext.defaultParallelism
    if source_path is not None:
        est_splits = max(1, -(-_source_bytes(source_path) // _max_partition_bytes(spark)))
        if est_splits >= target:
            return df
    elif df.rdd.getNumPartitions() >= target:  # fallback: exact but slower
        return df
    return df.repartition(target)


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names}


def register_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> None:
    """Register each table as a temp view so operators can use spark.sql."""
    for n in names:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)
