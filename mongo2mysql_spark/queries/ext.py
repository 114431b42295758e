"""Driver rows for the round-3 extension operators (profiler, drift,
SCD2, versioned tables, snapshot diff, resample, chunking, CMS, BPE
codec, SemDeDup) — each query drives the real operator and pairs it
with a DuckDB oracle restating the semantics independently, so the
driver hash check is hard signal, not a local-test echo.

Where an operator's scale plan differs from the naive statement (CMS
buckets vs exact counts, incremental merge vs one-shot aggregate,
kmeans blocking vs planted ground truth), the oracle states the naive/
ground-truth form — the comparison proves the optimized plan computes
the stated semantics (same pattern as queries/interval.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mongo2mysql_spark.artifacts import (
    artifact,
    await_query,
    held_dir,
    scratch_dir,
)
from mongo2mysql_spark.operators.bars import ohlc_bars_sql, twap_bars_sql
from mongo2mysql_spark.operators.forecast import seasonal_backtest_sql
from mongo2mysql_spark.operators.trend import hourly_trend_sql
from mongo2mysql_spark.operators.cms import cms_fold_key_sql, cms_sql
from mongo2mysql_spark.operators.profile import (
    encoding_stats_sql,
    functional_dependencies_sql,
    heavy_keys_sql,
)
from mongo2mysql_spark.operators.selection import (
    equi_depth_histogram_sql,
    selectivity_estimate_sql,
)
from mongo2mysql_spark.queries import register
from mongo2mysql_spark.sources import load_table as T

# ------------------------------------------------------------------ profiler


# histogram branch (operators/selection.equi_depth_histogram): the
# ANALYZE-TABLE equi-depth statistic at 8 buckets
_HIST_BUCKETS = 8
# cms branch (operators/cms.py): depth x width counter grid — state is
# d*w integers regardless of key cardinality
_CMS_DEPTH = 4
_CMS_WIDTH = 512
# selest branch (operators/selection.selectivity_estimate): half-open
# ranges over l_extendedprice — low/mid/top slices of the price domain
_SEL_RANGES = [
    (0.0, 20000.0, "price_low"),
    (20000.0, 60000.0, "price_mid"),
    (90000.0, 200000.0, "price_top"),
]
# encoding branch (operators/profile.encoding_stats): runs counted per
# row-group proxy (2000 orders ≈ one parquet row group of lineitems —
# bounded window partitions at every SF)
_ENC_COLS = ["l_returnflag", "l_linestatus", "l_suppkey"]
_ENC_ORDER = ["l_orderkey", "l_linenumber"] + _ENC_COLS
_ENC_ORDER_SQL = ", ".join(_ENC_ORDER)
_ENC_GROUP_SQL = "l_orderkey // 2000"
_ENC_GROUP_SPARK = "l_orderkey DIV 2000"
# fd branch (operators/profile.functional_dependencies)
_FD_CHECKS = [
    ("orders", "o_orderkey", "o_custkey", "orders.o_orderkey->o_custkey"),
    ("customer", "c_custkey", "c_nationkey",
     "customer.c_custkey->c_nationkey"),
    ("lineitem", "l_orderkey", "l_returnflag",
     "lineitem.l_orderkey->l_returnflag"),
    ("lineitem", "l_partkey", "l_suppkey", "lineitem.l_partkey->l_suppkey"),
]
_FD_CHECKS_SQL = _FD_CHECKS


def _cms_stream_frame(spark: SparkSession, sf_dir: str, hk) -> DataFrame:
    """Drive the streaming CMS store end-to-end: THREE writers fold
    orderkey-sliced lineitem grids into one store — two through the
    batch ``refresh_cms_store`` entry point (the exact function the
    foreachBatch handler calls, distinct writer ids, each
    replay-guarded) and one through a full availableNow streaming
    query (the micro-batch boundary itself) — then the TOP-10 keys'
    estimates are answered from the FOLDED grid, hash-gated against
    the same Carter-Wegman batch restatement the 'cms' branch rides:
    stream-folded ≡ one-shot batch bit-for-bit (the joinview/pqstore
    same-answer-different-path pattern).

    One streaming query instead of three (r11 gate-cost finding #4):
    the fold path, writer isolation, and replay guard are identical
    through both entry points — what the extra two streaming queries
    bought was only their ~3 s apiece startup, the single heaviest
    gate build in the registry (20.4 s)."""
    from mongo2mysql_spark.operators.cms import cms_estimate
    from mongo2mysql_spark.streaming.cmsstore import (
        read_cms_store,
        refresh_cms_store,
        streaming_cms_refresh,
    )

    with scratch_dir("cmsstore_slot_") as work:
        store = os.path.join(work, "store")
        os.makedirs(store)
        path = os.path.join(sf_dir, "lineitem.parquet")
        raw = spark.read.parquet(path)
        for i in (0, 1):
            assert refresh_cms_store(
                raw.filter(F.col("l_orderkey") % 3 == i).select("l_suppkey"),
                store, "l_suppkey", depth=_CMS_DEPTH, width=_CMS_WIDTH,
                writer=f"batch{i}", epoch=0,
            )
        st = (
            spark.readStream.schema(raw.schema)
            .option("pathGlobFilter", "lineitem.parquet")
            .parquet(sf_dir)
            .filter(F.col("l_orderkey") % 3 == 2)
            .select("l_suppkey")
        )
        q = streaming_cms_refresh(
            st, store, "l_suppkey",
            depth=_CMS_DEPTH, width=_CMS_WIDTH,
            checkpoint_dir=os.path.join(work, "ck2"),
        )
        await_query(q, "cms-store refresh")
        grid = read_cms_store(spark, store)
        return (
            cms_estimate(grid, hk, "__kv",
                         depth=_CMS_DEPTH, width=_CMS_WIDTH)
            .select("column", "key", "key_n", "rank", "est")
            .localCheckpoint()
        )



@register(
    "profile_table_stats",
    """
    SELECT 'profile' AS branch, p.*, CAST(NULL AS BIGINT) AS n_orphans,
           CAST(NULL AS VARCHAR) AS key, CAST(NULL AS BIGINT) AS key_n,
           CAST(NULL AS DOUBLE) AS hot_frac,
           CAST(NULL AS DOUBLE) AS skew_ratio,
           CAST(NULL AS INTEGER) AS rank,
           CAST(NULL AS INTEGER) AS bucket, CAST(NULL AS DOUBLE) AS lo,
           CAST(NULL AS DOUBLE) AS hi, CAST(NULL AS BIGINT) AS n_bucket,
           CAST(NULL AS BIGINT) AS est,
           CAST(NULL AS BIGINT) AS runs, CAST(NULL AS DOUBLE) AS avg_run_len,
           CAST(NULL AS INTEGER) AS dict_bits,
           CAST(NULL AS BIGINT) AS pair_distinct,
           CAST(NULL AS BOOLEAN) AS fd_holds
    FROM (
    WITH base AS (SELECT COUNT(*) AS n FROM documents)
    SELECT 'doc_id' AS column, 'bigint' AS dtype, n AS n_rows,
           (SELECT COUNT(doc_id) FROM documents) AS n_nonnull,
           ROUND((n - (SELECT COUNT(doc_id) FROM documents)) / CAST(GREATEST(n, 1) AS DOUBLE), 6) AS null_frac,
           (SELECT COUNT(DISTINCT doc_id) FROM documents) AS n_distinct,
           (SELECT CAST(MIN(doc_id) AS VARCHAR) FROM documents) AS min_value,
           (SELECT CAST(MAX(doc_id) AS VARCHAR) FROM documents) AS max_value,
           (SELECT ROUND(CAST(SUM(CAST(doc_id AS DECIMAL(38,8))) / COUNT(doc_id) AS DOUBLE), 6) FROM documents) AS mean_value,
           CAST(NULL AS DOUBLE) AS avg_len
    FROM base
    UNION ALL
    SELECT 'text', 'string', n,
           (SELECT COUNT(text) FROM documents),
           ROUND((n - (SELECT COUNT(text) FROM documents)) / CAST(GREATEST(n, 1) AS DOUBLE), 6),
           (SELECT COUNT(DISTINCT text) FROM documents),
           (SELECT MIN(text) FROM documents),
           (SELECT MAX(text) FROM documents),
           CAST(NULL AS DOUBLE),
           (SELECT ROUND(AVG(CAST(length(text) AS DOUBLE)), 6) FROM documents)
    FROM base
    UNION ALL
    SELECT 'lang', 'string', n,
           (SELECT COUNT(lang) FROM documents),
           ROUND((n - (SELECT COUNT(lang) FROM documents)) / CAST(GREATEST(n, 1) AS DOUBLE), 6),
           (SELECT COUNT(DISTINCT lang) FROM documents),
           (SELECT MIN(lang) FROM documents),
           (SELECT MAX(lang) FROM documents),
           CAST(NULL AS DOUBLE),
           (SELECT ROUND(AVG(CAST(length(lang) AS DOUBLE)), 6) FROM documents)
    FROM base
    UNION ALL
    SELECT 'source', 'string', n,
           (SELECT COUNT(source) FROM documents),
           ROUND((n - (SELECT COUNT(source) FROM documents)) / CAST(GREATEST(n, 1) AS DOUBLE), 6),
           (SELECT COUNT(DISTINCT source) FROM documents),
           (SELECT MIN(source) FROM documents),
           (SELECT MAX(source) FROM documents),
           CAST(NULL AS DOUBLE),
           (SELECT ROUND(AVG(CAST(length(source) AS DOUBLE)), 6) FROM documents)
    FROM base
    UNION ALL
    SELECT 'n_chars', 'bigint', n,
           (SELECT COUNT(n_chars) FROM documents),
           ROUND((n - (SELECT COUNT(n_chars) FROM documents)) / CAST(GREATEST(n, 1) AS DOUBLE), 6),
           (SELECT COUNT(DISTINCT n_chars) FROM documents),
           (SELECT CAST(MIN(n_chars) AS VARCHAR) FROM documents),
           (SELECT CAST(MAX(n_chars) AS VARCHAR) FROM documents),
           (SELECT ROUND(CAST(SUM(CAST(n_chars AS DECIMAL(38,8))) / COUNT(n_chars) AS DOUBLE), 6) FROM documents),
           CAST(NULL AS DOUBLE)
    FROM base
    ) p
    UNION ALL
    SELECT 'integrity' AS branch, 'orders.o_custkey->customer' AS column, 'fk' AS dtype,
           n AS n_rows, matched AS n_nonnull,
           ROUND(CAST(n - matched AS DOUBLE)
                 / CAST(GREATEST(n, 1) AS DOUBLE), 6) AS null_frac,
           CAST(NULL AS BIGINT) AS n_distinct,
           CAST(NULL AS VARCHAR) AS min_value,
           CAST(NULL AS VARCHAR) AS max_value,
           CAST(NULL AS DOUBLE) AS mean_value,
           CAST(NULL AS DOUBLE) AS avg_len,
           (n - matched) AS n_orphans,
           CAST(NULL AS VARCHAR) AS key, CAST(NULL AS BIGINT) AS key_n,
           CAST(NULL AS DOUBLE) AS hot_frac,
           CAST(NULL AS DOUBLE) AS skew_ratio,
           CAST(NULL AS INTEGER) AS rank,
           CAST(NULL AS INTEGER) AS bucket, CAST(NULL AS DOUBLE) AS lo,
           CAST(NULL AS DOUBLE) AS hi, CAST(NULL AS BIGINT) AS n_bucket,
           CAST(NULL AS BIGINT) AS est,
           CAST(NULL AS BIGINT) AS runs, CAST(NULL AS DOUBLE) AS avg_run_len,
           CAST(NULL AS INTEGER) AS dict_bits,
           CAST(NULL AS BIGINT) AS pair_distinct,
           CAST(NULL AS BOOLEAN) AS fd_holds
    FROM (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(COUNT(p.__pk) AS BIGINT) AS matched
          FROM orders c
          LEFT JOIN (SELECT DISTINCT c_custkey AS __pk FROM customer) p
            ON c.o_custkey = p.__pk
          WHERE c.o_custkey IS NOT NULL)
    UNION ALL
    SELECT 'integrity' AS branch, 'lineitem.l_orderkey->orders' AS column, 'fk' AS dtype,
           n AS n_rows, matched AS n_nonnull,
           ROUND(CAST(n - matched AS DOUBLE)
                 / CAST(GREATEST(n, 1) AS DOUBLE), 6) AS null_frac,
           CAST(NULL AS BIGINT) AS n_distinct,
           CAST(NULL AS VARCHAR) AS min_value,
           CAST(NULL AS VARCHAR) AS max_value,
           CAST(NULL AS DOUBLE) AS mean_value,
           CAST(NULL AS DOUBLE) AS avg_len,
           (n - matched) AS n_orphans,
           CAST(NULL AS VARCHAR) AS key, CAST(NULL AS BIGINT) AS key_n,
           CAST(NULL AS DOUBLE) AS hot_frac,
           CAST(NULL AS DOUBLE) AS skew_ratio,
           CAST(NULL AS INTEGER) AS rank,
           CAST(NULL AS INTEGER) AS bucket, CAST(NULL AS DOUBLE) AS lo,
           CAST(NULL AS DOUBLE) AS hi, CAST(NULL AS BIGINT) AS n_bucket,
           CAST(NULL AS BIGINT) AS est,
           CAST(NULL AS BIGINT) AS runs, CAST(NULL AS DOUBLE) AS avg_run_len,
           CAST(NULL AS INTEGER) AS dict_bits,
           CAST(NULL AS BIGINT) AS pair_distinct,
           CAST(NULL AS BOOLEAN) AS fd_holds
    FROM (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(COUNT(p.__pk) AS BIGINT) AS matched
          FROM lineitem c
          LEFT JOIN (SELECT DISTINCT o_orderkey AS __pk FROM orders) p
            ON c.l_orderkey = p.__pk
          WHERE c.l_orderkey IS NOT NULL)
    UNION ALL
    SELECT 'integrity' AS branch, 'lineitem.l_partkey->part' AS column, 'fk' AS dtype,
           n AS n_rows, matched AS n_nonnull,
           ROUND(CAST(n - matched AS DOUBLE)
                 / CAST(GREATEST(n, 1) AS DOUBLE), 6) AS null_frac,
           CAST(NULL AS BIGINT) AS n_distinct,
           CAST(NULL AS VARCHAR) AS min_value,
           CAST(NULL AS VARCHAR) AS max_value,
           CAST(NULL AS DOUBLE) AS mean_value,
           CAST(NULL AS DOUBLE) AS avg_len,
           (n - matched) AS n_orphans,
           CAST(NULL AS VARCHAR) AS key, CAST(NULL AS BIGINT) AS key_n,
           CAST(NULL AS DOUBLE) AS hot_frac,
           CAST(NULL AS DOUBLE) AS skew_ratio,
           CAST(NULL AS INTEGER) AS rank,
           CAST(NULL AS INTEGER) AS bucket, CAST(NULL AS DOUBLE) AS lo,
           CAST(NULL AS DOUBLE) AS hi, CAST(NULL AS BIGINT) AS n_bucket,
           CAST(NULL AS BIGINT) AS est,
           CAST(NULL AS BIGINT) AS runs, CAST(NULL AS DOUBLE) AS avg_run_len,
           CAST(NULL AS INTEGER) AS dict_bits,
           CAST(NULL AS BIGINT) AS pair_distinct,
           CAST(NULL AS BOOLEAN) AS fd_holds
    FROM (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(COUNT(p.__pk) AS BIGINT) AS matched
          FROM lineitem c
          LEFT JOIN (SELECT DISTINCT p_partkey AS __pk FROM part) p
            ON c.l_partkey = p.__pk
          WHERE c.l_partkey IS NOT NULL)
    UNION ALL
    SELECT 'integrity' AS branch, 'lineitem.l_suppkey->supplier' AS column, 'fk' AS dtype,
           n AS n_rows, matched AS n_nonnull,
           ROUND(CAST(n - matched AS DOUBLE)
                 / CAST(GREATEST(n, 1) AS DOUBLE), 6) AS null_frac,
           CAST(NULL AS BIGINT) AS n_distinct,
           CAST(NULL AS VARCHAR) AS min_value,
           CAST(NULL AS VARCHAR) AS max_value,
           CAST(NULL AS DOUBLE) AS mean_value,
           CAST(NULL AS DOUBLE) AS avg_len,
           (n - matched) AS n_orphans,
           CAST(NULL AS VARCHAR) AS key, CAST(NULL AS BIGINT) AS key_n,
           CAST(NULL AS DOUBLE) AS hot_frac,
           CAST(NULL AS DOUBLE) AS skew_ratio,
           CAST(NULL AS INTEGER) AS rank,
           CAST(NULL AS INTEGER) AS bucket, CAST(NULL AS DOUBLE) AS lo,
           CAST(NULL AS DOUBLE) AS hi, CAST(NULL AS BIGINT) AS n_bucket,
           CAST(NULL AS BIGINT) AS est,
           CAST(NULL AS BIGINT) AS runs, CAST(NULL AS DOUBLE) AS avg_run_len,
           CAST(NULL AS INTEGER) AS dict_bits,
           CAST(NULL AS BIGINT) AS pair_distinct,
           CAST(NULL AS BOOLEAN) AS fd_holds
    FROM (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(COUNT(p.__pk) AS BIGINT) AS matched
          FROM lineitem c
          LEFT JOIN (SELECT DISTINCT s_suppkey AS __pk FROM supplier) p
            ON c.l_suppkey = p.__pk
          WHERE c.l_suppkey IS NOT NULL)
    UNION ALL
    SELECT 'integrity' AS branch, 'customer.c_nationkey->nation' AS column, 'fk' AS dtype,
           n AS n_rows, matched AS n_nonnull,
           ROUND(CAST(n - matched AS DOUBLE)
                 / CAST(GREATEST(n, 1) AS DOUBLE), 6) AS null_frac,
           CAST(NULL AS BIGINT) AS n_distinct,
           CAST(NULL AS VARCHAR) AS min_value,
           CAST(NULL AS VARCHAR) AS max_value,
           CAST(NULL AS DOUBLE) AS mean_value,
           CAST(NULL AS DOUBLE) AS avg_len,
           (n - matched) AS n_orphans,
           CAST(NULL AS VARCHAR) AS key, CAST(NULL AS BIGINT) AS key_n,
           CAST(NULL AS DOUBLE) AS hot_frac,
           CAST(NULL AS DOUBLE) AS skew_ratio,
           CAST(NULL AS INTEGER) AS rank,
           CAST(NULL AS INTEGER) AS bucket, CAST(NULL AS DOUBLE) AS lo,
           CAST(NULL AS DOUBLE) AS hi, CAST(NULL AS BIGINT) AS n_bucket,
           CAST(NULL AS BIGINT) AS est,
           CAST(NULL AS BIGINT) AS runs, CAST(NULL AS DOUBLE) AS avg_run_len,
           CAST(NULL AS INTEGER) AS dict_bits,
           CAST(NULL AS BIGINT) AS pair_distinct,
           CAST(NULL AS BOOLEAN) AS fd_holds
    FROM (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(COUNT(p.__pk) AS BIGINT) AS matched
          FROM customer c
          LEFT JOIN (SELECT DISTINCT n_nationkey AS __pk FROM nation) p
            ON c.c_nationkey = p.__pk
          WHERE c.c_nationkey IS NOT NULL)
    UNION ALL
    SELECT 'integrity' AS branch, 'nation.n_regionkey->region' AS column, 'fk' AS dtype,
           n AS n_rows, matched AS n_nonnull,
           ROUND(CAST(n - matched AS DOUBLE)
                 / CAST(GREATEST(n, 1) AS DOUBLE), 6) AS null_frac,
           CAST(NULL AS BIGINT) AS n_distinct,
           CAST(NULL AS VARCHAR) AS min_value,
           CAST(NULL AS VARCHAR) AS max_value,
           CAST(NULL AS DOUBLE) AS mean_value,
           CAST(NULL AS DOUBLE) AS avg_len,
           (n - matched) AS n_orphans,
           CAST(NULL AS VARCHAR) AS key, CAST(NULL AS BIGINT) AS key_n,
           CAST(NULL AS DOUBLE) AS hot_frac,
           CAST(NULL AS DOUBLE) AS skew_ratio,
           CAST(NULL AS INTEGER) AS rank,
           CAST(NULL AS INTEGER) AS bucket, CAST(NULL AS DOUBLE) AS lo,
           CAST(NULL AS DOUBLE) AS hi, CAST(NULL AS BIGINT) AS n_bucket,
           CAST(NULL AS BIGINT) AS est,
           CAST(NULL AS BIGINT) AS runs, CAST(NULL AS DOUBLE) AS avg_run_len,
           CAST(NULL AS INTEGER) AS dict_bits,
           CAST(NULL AS BIGINT) AS pair_distinct,
           CAST(NULL AS BOOLEAN) AS fd_holds
    FROM (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(COUNT(p.__pk) AS BIGINT) AS matched
          FROM nation c
          LEFT JOIN (SELECT DISTINCT r_regionkey AS __pk FROM region) p
            ON c.n_regionkey = p.__pk
          WHERE c.n_regionkey IS NOT NULL)
    UNION ALL
    SELECT 'skew' AS branch, "column", CAST(NULL AS VARCHAR) AS dtype, n_rows,
           CAST(NULL AS BIGINT) AS n_nonnull,
           CAST(NULL AS DOUBLE) AS null_frac,
           n_distinct,
           CAST(NULL AS VARCHAR) AS min_value,
           CAST(NULL AS VARCHAR) AS max_value,
           CAST(NULL AS DOUBLE) AS mean_value,
           CAST(NULL AS DOUBLE) AS avg_len,
           CAST(NULL AS BIGINT) AS n_orphans,
           key, key_n, hot_frac, skew_ratio, rank,
           CAST(NULL AS INTEGER) AS bucket, CAST(NULL AS DOUBLE) AS lo,
           CAST(NULL AS DOUBLE) AS hi, CAST(NULL AS BIGINT) AS n_bucket,
           CAST(NULL AS BIGINT) AS est,
           CAST(NULL AS BIGINT) AS runs, CAST(NULL AS DOUBLE) AS avg_run_len,
           CAST(NULL AS INTEGER) AS dict_bits,
           CAST(NULL AS BIGINT) AS pair_distinct,
           CAST(NULL AS BOOLEAN) AS fd_holds
    FROM (""" + heavy_keys_sql("events", "event_type", k=10) + """)
    UNION ALL
    SELECT 'skew' AS branch, "column", CAST(NULL AS VARCHAR) AS dtype, n_rows,
           CAST(NULL AS BIGINT) AS n_nonnull,
           CAST(NULL AS DOUBLE) AS null_frac,
           n_distinct,
           CAST(NULL AS VARCHAR) AS min_value,
           CAST(NULL AS VARCHAR) AS max_value,
           CAST(NULL AS DOUBLE) AS mean_value,
           CAST(NULL AS DOUBLE) AS avg_len,
           CAST(NULL AS BIGINT) AS n_orphans,
           key, key_n, hot_frac, skew_ratio, rank,
           CAST(NULL AS INTEGER) AS bucket, CAST(NULL AS DOUBLE) AS lo,
           CAST(NULL AS DOUBLE) AS hi, CAST(NULL AS BIGINT) AS n_bucket,
           CAST(NULL AS BIGINT) AS est,
           CAST(NULL AS BIGINT) AS runs, CAST(NULL AS DOUBLE) AS avg_run_len,
           CAST(NULL AS INTEGER) AS dict_bits,
           CAST(NULL AS BIGINT) AS pair_distinct,
           CAST(NULL AS BOOLEAN) AS fd_holds
    FROM (""" + heavy_keys_sql("lineitem", "l_suppkey", k=10) + """)
    UNION ALL
    SELECT 'histogram' AS branch, "column", CAST(NULL AS VARCHAR) AS dtype,
           CAST(NULL AS BIGINT) AS n_rows,
           CAST(NULL AS BIGINT) AS n_nonnull,
           CAST(NULL AS DOUBLE) AS null_frac,
           CAST(NULL AS BIGINT) AS n_distinct,
           CAST(NULL AS VARCHAR) AS min_value,
           CAST(NULL AS VARCHAR) AS max_value,
           CAST(NULL AS DOUBLE) AS mean_value,
           CAST(NULL AS DOUBLE) AS avg_len,
           CAST(NULL AS BIGINT) AS n_orphans,
           CAST(NULL AS VARCHAR) AS key, CAST(NULL AS BIGINT) AS key_n,
           CAST(NULL AS DOUBLE) AS hot_frac,
           CAST(NULL AS DOUBLE) AS skew_ratio,
           CAST(NULL AS INTEGER) AS rank,
           bucket, lo, hi, n_bucket,
           CAST(NULL AS BIGINT) AS est,
           CAST(NULL AS BIGINT) AS runs, CAST(NULL AS DOUBLE) AS avg_run_len,
           CAST(NULL AS INTEGER) AS dict_bits,
           CAST(NULL AS BIGINT) AS pair_distinct,
           CAST(NULL AS BOOLEAN) AS fd_holds
    FROM (
      WITH """ + equi_depth_histogram_sql("lineitem", "l_extendedprice",
                                          _HIST_BUCKETS, prefix="he") + """,
      """ + equi_depth_histogram_sql("orders", "o_totalprice",
                                     _HIST_BUCKETS, prefix="ho") + """
      SELECT 'lineitem.l_extendedprice' AS "column", * FROM heist
      UNION ALL
      SELECT 'orders.o_totalprice' AS "column", * FROM hoist)
    UNION ALL
    SELECT 'cms' AS branch, "column", CAST(NULL AS VARCHAR) AS dtype,
           CAST(NULL AS BIGINT) AS n_rows,
           CAST(NULL AS BIGINT) AS n_nonnull,
           CAST(NULL AS DOUBLE) AS null_frac,
           CAST(NULL AS BIGINT) AS n_distinct,
           CAST(NULL AS VARCHAR) AS min_value,
           CAST(NULL AS VARCHAR) AS max_value,
           CAST(NULL AS DOUBLE) AS mean_value,
           CAST(NULL AS DOUBLE) AS avg_len,
           CAST(NULL AS BIGINT) AS n_orphans,
           key, key_n,
           CAST(NULL AS DOUBLE) AS hot_frac,
           CAST(NULL AS DOUBLE) AS skew_ratio,
           rank,
           CAST(NULL AS INTEGER) AS bucket, CAST(NULL AS DOUBLE) AS lo,
           CAST(NULL AS DOUBLE) AS hi, CAST(NULL AS BIGINT) AS n_bucket,
           est,
           CAST(NULL AS BIGINT) AS runs, CAST(NULL AS DOUBLE) AS avg_run_len,
           CAST(NULL AS INTEGER) AS dict_bits,
           CAST(NULL AS BIGINT) AS pair_distinct,
           CAST(NULL AS BOOLEAN) AS fd_holds
    FROM (
      WITH """ + cms_sql("lineitem", "l_suppkey",
                         _CMS_DEPTH, _CMS_WIDTH) + """
      SELECT h."column", h.key, h.key_n, h.rank, e.est
      FROM (""" + heavy_keys_sql("lineitem", "l_suppkey", k=10) + """) h
      JOIN cmsest e ON e.key_val = CAST(h.key AS BIGINT))
    UNION ALL
    SELECT 'cmsstr' AS branch, "column", CAST(NULL AS VARCHAR) AS dtype,
           CAST(NULL AS BIGINT) AS n_rows,
           CAST(NULL AS BIGINT) AS n_nonnull,
           CAST(NULL AS DOUBLE) AS null_frac,
           CAST(NULL AS BIGINT) AS n_distinct,
           CAST(NULL AS VARCHAR) AS min_value,
           CAST(NULL AS VARCHAR) AS max_value,
           CAST(NULL AS DOUBLE) AS mean_value,
           CAST(NULL AS DOUBLE) AS avg_len,
           CAST(NULL AS BIGINT) AS n_orphans,
           key, key_n,
           CAST(NULL AS DOUBLE) AS hot_frac,
           CAST(NULL AS DOUBLE) AS skew_ratio,
           rank,
           CAST(NULL AS INTEGER) AS bucket, CAST(NULL AS DOUBLE) AS lo,
           CAST(NULL AS DOUBLE) AS hi, CAST(NULL AS BIGINT) AS n_bucket,
           est,
           CAST(NULL AS BIGINT) AS runs, CAST(NULL AS DOUBLE) AS avg_run_len,
           CAST(NULL AS INTEGER) AS dict_bits,
           CAST(NULL AS BIGINT) AS pair_distinct,
           CAST(NULL AS BOOLEAN) AS fd_holds
    FROM (
      -- STRING-keyed sketch: the same Carter-Wegman grid over the
      -- portable codepoint fold (operators/cms.cms_fold_key) of the
      -- Zipfian string key the 'skew' branch profiles exactly
      WITH """ + cms_sql("events", cms_fold_key_sql("event_type"),
                         _CMS_DEPTH, _CMS_WIDTH, prefix="cf") + """
      SELECT h."column", h.key, h.key_n, h.rank, e.est
      FROM (""" + heavy_keys_sql("events", "event_type", k=10) + """) h
      JOIN cfsest e ON e.key_val = """
    + cms_fold_key_sql("h.key") + """)
    UNION ALL
    SELECT 'cmsstream' AS branch, "column", CAST(NULL AS VARCHAR) AS dtype,
           CAST(NULL AS BIGINT) AS n_rows,
           CAST(NULL AS BIGINT) AS n_nonnull,
           CAST(NULL AS DOUBLE) AS null_frac,
           CAST(NULL AS BIGINT) AS n_distinct,
           CAST(NULL AS VARCHAR) AS min_value,
           CAST(NULL AS VARCHAR) AS max_value,
           CAST(NULL AS DOUBLE) AS mean_value,
           CAST(NULL AS DOUBLE) AS avg_len,
           CAST(NULL AS BIGINT) AS n_orphans,
           key, key_n,
           CAST(NULL AS DOUBLE) AS hot_frac,
           CAST(NULL AS DOUBLE) AS skew_ratio,
           rank,
           CAST(NULL AS INTEGER) AS bucket, CAST(NULL AS DOUBLE) AS lo,
           CAST(NULL AS DOUBLE) AS hi, CAST(NULL AS BIGINT) AS n_bucket,
           est,
           CAST(NULL AS BIGINT) AS runs, CAST(NULL AS DOUBLE) AS avg_run_len,
           CAST(NULL AS INTEGER) AS dict_bits,
           CAST(NULL AS BIGINT) AS pair_distinct,
           CAST(NULL AS BOOLEAN) AS fd_holds
    FROM (
      -- the STREAMING store's folded grid must answer bit-identically
      -- to the one-shot batch sketch, i.e. to this same restatement
      WITH """ + cms_sql("lineitem", "l_suppkey",
                         _CMS_DEPTH, _CMS_WIDTH, prefix="cs") + """
      SELECT h."column", h.key, h.key_n, h.rank, e.est
      FROM (""" + heavy_keys_sql("lineitem", "l_suppkey", k=10) + """) h
      JOIN cssest e ON e.key_val = CAST(h.key AS BIGINT))
    UNION ALL
    SELECT 'encoding' AS branch, "column", CAST(NULL AS VARCHAR) AS dtype,
           n_rows,
           CAST(NULL AS BIGINT) AS n_nonnull,
           CAST(NULL AS DOUBLE) AS null_frac,
           n_distinct,
           CAST(NULL AS VARCHAR) AS min_value,
           CAST(NULL AS VARCHAR) AS max_value,
           CAST(NULL AS DOUBLE) AS mean_value,
           CAST(NULL AS DOUBLE) AS avg_len,
           CAST(NULL AS BIGINT) AS n_orphans,
           CAST(NULL AS VARCHAR) AS key, CAST(NULL AS BIGINT) AS key_n,
           CAST(NULL AS DOUBLE) AS hot_frac,
           CAST(NULL AS DOUBLE) AS skew_ratio,
           CAST(NULL AS INTEGER) AS rank,
           CAST(NULL AS INTEGER) AS bucket, CAST(NULL AS DOUBLE) AS lo,
           CAST(NULL AS DOUBLE) AS hi, CAST(NULL AS BIGINT) AS n_bucket,
           CAST(NULL AS BIGINT) AS est,
           runs, avg_run_len, dict_bits,
           CAST(NULL AS BIGINT) AS pair_distinct,
           CAST(NULL AS BOOLEAN) AS fd_holds
    FROM (""" + encoding_stats_sql(
        "lineitem", _ENC_COLS, _ENC_ORDER_SQL, _ENC_GROUP_SQL
    ) + """)
    UNION ALL
    SELECT 'fd' AS branch, "column", CAST(NULL AS VARCHAR) AS dtype,
           CAST(NULL AS BIGINT) AS n_rows,
           CAST(NULL AS BIGINT) AS n_nonnull,
           CAST(NULL AS DOUBLE) AS null_frac,
           n_distinct,
           CAST(NULL AS VARCHAR) AS min_value,
           CAST(NULL AS VARCHAR) AS max_value,
           CAST(NULL AS DOUBLE) AS mean_value,
           CAST(NULL AS DOUBLE) AS avg_len,
           CAST(NULL AS BIGINT) AS n_orphans,
           CAST(NULL AS VARCHAR) AS key, CAST(NULL AS BIGINT) AS key_n,
           CAST(NULL AS DOUBLE) AS hot_frac,
           CAST(NULL AS DOUBLE) AS skew_ratio,
           CAST(NULL AS INTEGER) AS rank,
           CAST(NULL AS INTEGER) AS bucket, CAST(NULL AS DOUBLE) AS lo,
           CAST(NULL AS DOUBLE) AS hi, CAST(NULL AS BIGINT) AS n_bucket,
           CAST(NULL AS BIGINT) AS est,
           CAST(NULL AS BIGINT) AS runs, CAST(NULL AS DOUBLE) AS avg_run_len,
           CAST(NULL AS INTEGER) AS dict_bits,
           pair_distinct, fd_holds
    FROM (""" + functional_dependencies_sql(_FD_CHECKS_SQL) + """)
    UNION ALL
    SELECT 'selest' AS branch, 'lineitem.l_extendedprice' AS "column",
           CAST(NULL AS VARCHAR) AS dtype,
           exact AS n_rows,
           CAST(NULL AS BIGINT) AS n_nonnull,
           CAST(NULL AS DOUBLE) AS null_frac,
           CAST(NULL AS BIGINT) AS n_distinct,
           CAST(NULL AS VARCHAR) AS min_value,
           CAST(NULL AS VARCHAR) AS max_value,
           est AS mean_value,
           CAST(NULL AS DOUBLE) AS avg_len,
           CAST(NULL AS BIGINT) AS n_orphans,
           label AS key, CAST(NULL AS BIGINT) AS key_n,
           CAST(NULL AS DOUBLE) AS hot_frac,
           CAST(NULL AS DOUBLE) AS skew_ratio,
           CAST(NULL AS INTEGER) AS rank,
           CAST(NULL AS INTEGER) AS bucket, CAST(NULL AS DOUBLE) AS lo,
           CAST(NULL AS DOUBLE) AS hi, CAST(NULL AS BIGINT) AS n_bucket,
           CAST(NULL AS BIGINT) AS est,
           CAST(NULL AS BIGINT) AS runs, CAST(NULL AS DOUBLE) AS avg_run_len,
           CAST(NULL AS INTEGER) AS dict_bits,
           CAST(NULL AS BIGINT) AS pair_distinct,
           CAST(NULL AS BOOLEAN) AS fd_holds
    FROM (
      WITH """ + equi_depth_histogram_sql("lineitem", "l_extendedprice",
                                          _HIST_BUCKETS, prefix="sh") + """,
      """ + selectivity_estimate_sql("lineitem", "l_extendedprice",
                                     "shist", _SEL_RANGES) + """
      SELECT label, est, exact FROM selout)
    """,
    doc=(
        "one-pass table profiler (operators/profile.py): per-column null "
        "fraction, distinct count, min/max, exact-decimal mean, avg "
        "string length — ONE fused agg regardless of column count, then "
        "a metadata-cheap unpivot.  exact_distinct=True here so the "
        "oracle states the same counts; production defaults to HLL "
        "partials (the only option at 100 TB).  The oracle recomputes "
        "every stat naively per column.  'skew' rows: key-distribution "
        "skew profile (operators/profile.heavy_keys) — top-10 heaviest "
        "keys of a Zipfian low-cardinality column (events.event_type) "
        "and a high-cardinality one (lineitem.l_suppkey) with exact "
        "counts, hot_frac and skew_ratio (n x n_distinct / total, the "
        "times-uniform-share measure): the pre-flight readout that "
        "decides whether a join/agg key needs salting or AQE skew "
        "handling; top-k is TakeOrderedAndProject, never a global "
        "window.  'histogram' rows: equi-depth histograms "
        "(operators/selection.equi_depth_histogram — the ANALYZE-TABLE "
        "selectivity statistic, where equi-width bars collapse on "
        "skew): boundaries are the exact interpolated i/8 quantiles "
        "served by exact_quantiles (bit-identical to F.percentile AND "
        "to DuckDB quantile_cont, so the boundary DOUBLES hash), "
        "assignment is a literal half-open comparison chain, counts "
        "one map-side-combined scan; empty buckets from duplicate "
        "boundaries are zero-filled, never dropped.  'cms' rows: "
        "count-min sketch point estimates (operators/cms.py, Cormode & "
        "Muthukrishnan 2005) for the SAME top-10 keys the 'skew' branch "
        "counts exactly — d x w integer counter grid (state independent "
        "of key cardinality, cell-additive merge), hashed as exact "
        "BIGINTs because the Carter-Wegman bucket arithmetic "
        "((a*x+b) mod p mod w) is engine-identical; est >= key_n by "
        "construction, overshoot bounded by the grid width.  "
        "'cmsstr' rows: the STRING-keyed form of the same sketch over "
        "events.event_type via the portable codepoint fold "
        "(operators/cms.cms_fold_key: sum of cp_j*131^(L-j) + length "
        "mod p, fixed 16-char unroll — identical BIGINT on both "
        "engines, so string-keyed estimates hash exactly too): the "
        "token/URL/event-type use case the integer key domain cannot "
        "serve directly.  "
        "'cmsstream' rows: the STREAMING count-min store "
        "(streaming/cmsstore.py) — three writers fold orderkey-sliced "
        "lineitem grids cell-additively into one store (two through "
        "the batch refresh entry point the foreachBatch handler "
        "itself calls, one through a full availableNow streaming "
        "query; immutable versions + atomic manifest + per-writer "
        "epoch replay guard), and the top-10 estimates answered from "
        "the FOLDED grid hash against the same batch restatement: "
        "stream-folded == one-shot sketch "
        "bit-for-bit (the joinview/pqstore same-answer-different-path "
        "gate, here for the mergeable-sketch state shape — O(d*w) "
        "work and state per refresh at any batch size or history).  "
        "'encoding' rows: columnar-encoding advisor "
        "(operators/profile.encoding_stats): RLE run counts per "
        "row-group proxy (bounded window partitions), avg run length, "
        "dictionary bit-width as integer bit-length (float log2 "
        "rounds differently across engines at exact powers of two); "
        "layout order suffixed with the measured columns so ties in "
        "the non-unique prefix are run-count-invariant.  'fd' rows: "
        "functional-dependency discovery "
        "(operators/profile.functional_dependencies): lhs->rhs holds "
        "iff distinct(lhs) == distinct(lhs, rhs) — undeclared keys, "
        "denormalized copies, safe GROUP BY collapses; two map-side "
        "distinct aggregates per check, no joins.  'selest' rows: "
        "range-predicate selectivity FROM the equi-depth histogram "
        "(operators/selection.selectivity_estimate — what the ANALYZE "
        "statistic exists for): est = sum over buckets of n_bucket x "
        "overlap fraction; boundaries are bit-identical doubles, "
        "fractions identical IEEE ops, the total an order-free decimal "
        "dsum — so the ESTIMATE itself hashes (key = range label, "
        "mean_value = estimate, n_rows = the exact verification "
        "count)."
    ),
)
def profile_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mongo2mysql_spark.operators.integrity import integrity_report
    from mongo2mysql_spark.operators.profile import profile_table
    from mongo2mysql_spark.queries import tagged_union

    d = T(spark, sf_dir, "documents", fanout=True)
    prof = profile_table(
        d.select("doc_id", "text", "lang", "source", "n_chars"),
        exact_distinct=True,
    )
    rels = [
        (T(spark, sf_dir, "orders"), "o_custkey",
         T(spark, sf_dir, "customer"), "c_custkey",
         "orders.o_custkey->customer"),
        (T(spark, sf_dir, "lineitem"), "l_orderkey",
         T(spark, sf_dir, "orders"), "o_orderkey",
         "lineitem.l_orderkey->orders"),
        (T(spark, sf_dir, "lineitem"), "l_partkey",
         T(spark, sf_dir, "part"), "p_partkey",
         "lineitem.l_partkey->part"),
        (T(spark, sf_dir, "lineitem"), "l_suppkey",
         T(spark, sf_dir, "supplier"), "s_suppkey",
         "lineitem.l_suppkey->supplier"),
        (T(spark, sf_dir, "customer"), "c_nationkey",
         T(spark, sf_dir, "nation"), "n_nationkey",
         "customer.c_nationkey->nation"),
        (T(spark, sf_dir, "nation"), "n_regionkey",
         T(spark, sf_dir, "region"), "r_regionkey",
         "nation.n_regionkey->region"),
    ]
    nul_s = F.lit(None).cast("string")
    integ = integrity_report(rels).select(
        F.col("relation").alias("column"),
        F.lit("fk").alias("dtype"),
        "n_rows",
        F.col("matched").alias("n_nonnull"),
        F.col("orphan_frac").alias("null_frac"),
        F.lit(None).cast("bigint").alias("n_distinct"),
        nul_s.alias("min_value"),
        nul_s.alias("max_value"),
        F.lit(None).cast("double").alias("mean_value"),
        F.lit(None).cast("double").alias("avg_len"),
        "n_orphans",
    )
    # key-distribution skew profile (operators/profile.heavy_keys): the
    # pre-flight readout that decides salting/AQE-skew handling for a
    # planned join/agg key — one Zipfian low-cardinality key and one
    # high-cardinality key
    from mongo2mysql_spark.operators.profile import heavy_keys

    ev = T(spark, sf_dir, "events", fanout=True)
    li = T(spark, sf_dir, "lineitem", fanout=True)
    skew = heavy_keys(ev, "event_type", k=10).unionByName(
        heavy_keys(li, "l_suppkey", k=10)
    )
    # equi-depth histograms (operators/selection.equi_depth_histogram):
    # the ANALYZE-TABLE selectivity statistic — boundary doubles come
    # from exact_quantiles (bit-identical to quantile_cont), counts from
    # one literal-comparison-chain scan
    from mongo2mysql_spark.operators.cms import cms_build, cms_estimate
    from mongo2mysql_spark.operators.selection import equi_depth_histogram

    hk = heavy_keys(li, "l_suppkey", k=10).select(
        "column", "key", "key_n", "rank",
        F.col("key").cast("long").alias("__kv"),
    )
    # the slot's eager build work: the two equi-depth histogram chains
    # (r13: each is now 3 bounded driver actions over ONE full scan —
    # the per-materialization counting re-scan is gone and the served
    # histogram is an n-bucket local table, so no checkpoint is needed
    # for the two consumers) and the cold cmsstream store build
    # price columns span ~1e5 distinct FLOOR buckets — a /256 coarse
    # bucket shrinks the phase-1 collect ~256x while the served rows
    # are IDENTICAL (granularity only trades histogram size against
    # rescan selectivity; invariance pinned by
    # test_bucket_granularity_invariant + the literal-chain test;
    # measured 10.6-13.3 -> 6.8-8.5 s for the pair on idle local[32])
    hist_li = equi_depth_histogram(
        li, "l_extendedprice", _HIST_BUCKETS,
        bucket_expr="FLOOR({c} / 256)",
    )
    hist_od = equi_depth_histogram(
        T(spark, sf_dir, "orders", fanout=True),
        "o_totalprice",
        _HIST_BUCKETS,
        bucket_expr="FLOOR({c} / 256)",
    )
    cmsst = artifact(
        "ext.cms_stream", spark, sf_dir,
        lambda: _cms_stream_frame(spark, sf_dir, hk),
    )
    hist = (
        hist_li
        .select(F.lit("lineitem.l_extendedprice").alias("column"), "*")
        .unionByName(
            hist_od
            .select(F.lit("orders.o_totalprice").alias("column"), "*")
        )
    )
    # count-min sketch (operators/cms.py): the grid is built once over
    # the same key the 'skew' branch profiles exactly; estimates for
    # the true top-10 keys hash as exact BIGINTs because the Carter-
    # Wegman cell arithmetic is engine-identical — the slot proves
    # sketch-vs-exact side by side (est >= key_n by construction)
    grid = cms_build(li, "l_suppkey", depth=_CMS_DEPTH, width=_CMS_WIDTH)
    cms = (
        cms_estimate(grid, hk, "__kv", depth=_CMS_DEPTH, width=_CMS_WIDTH)
        .select("column", "key", "key_n", "rank", "est")
    )
    # string-keyed CMS ('cmsstr'): the same sketch over the Zipfian
    # STRING key the 'skew' branch profiles (events.event_type), keyed
    # through the portable codepoint fold (operators/cms.cms_fold_key)
    # — the token/URL/event-type use case the integer branch cannot
    # serve; estimates still hash as exact BIGINTs because the fold
    # and the bucket arithmetic are engine-identical
    from mongo2mysql_spark.operators.cms import cms_fold_key

    hk_ev = heavy_keys(ev, "event_type", k=10).select(
        "column", "key", "key_n", "rank",
        cms_fold_key(F.col("key")).alias("__kv"),
    )
    grid_s = cms_build(
        ev.select(cms_fold_key(F.col("event_type")).alias("__k")),
        "__k", depth=_CMS_DEPTH, width=_CMS_WIDTH,
    )
    cmsstr = (
        cms_estimate(grid_s, hk_ev, "__kv",
                     depth=_CMS_DEPTH, width=_CMS_WIDTH)
        .select("column", "key", "key_n", "rank", "est")
    )
    # columnar-encoding advisor + functional-dependency discovery
    # (operators/profile.encoding_stats / functional_dependencies):
    # the writer-side and optimizer-side profiling readouts
    from mongo2mysql_spark.operators.profile import (
        encoding_stats,
        functional_dependencies,
    )

    # the layout order must be TOTAL over the measured columns:
    # (l_orderkey, l_linenumber) is not unique in this fixture, and
    # rows tied on the prefix would lag in engine-dependent order —
    # suffixing the measured columns themselves makes any remaining
    # tie run-count-invariant (tied rows are identical in every
    # measured column)
    enc = encoding_stats(li, _ENC_COLS, _ENC_ORDER, _ENC_GROUP_SPARK)
    od = T(spark, sf_dir, "orders", fanout=True)
    cu = T(spark, sf_dir, "customer", fanout=True)
    fd_inputs = {"orders": od, "customer": cu, "lineitem": li}
    fd = functional_dependencies(
        [
            (fd_inputs[tbl], lhs, rhs, label)
            for tbl, lhs, rhs, label in _FD_CHECKS
        ]
    )
    # histogram-driven range selectivity (operators/selection.
    # selectivity_estimate): the USE of the ANALYZE statistic — the
    # estimate itself hashes (boundaries are bit-identical doubles,
    # overlap fractions identical IEEE ops, total via order-free dsum);
    # exact counts ride along as the verification column
    from mongo2mysql_spark.operators.selection import selectivity_estimate

    sel = selectivity_estimate(
        li, "l_extendedprice", _SEL_RANGES, _HIST_BUCKETS, hist=hist_li
    ).select(
        F.lit("lineitem.l_extendedprice").alias("column"),
        F.col("label").alias("key"),
        F.col("exact").alias("n_rows"),
        F.col("est").alias("mean_value"),
    )
    return tagged_union(
        {
            "profile": prof,
            "integrity": integ,
            "skew": skew,
            "histogram": hist,
            "cms": cms,
            "cmsstr": cmsstr,
            "cmsstream": cmsst,
            "encoding": enc,
            "fd": fd,
            "selest": sel,
        }
    )


# ------------------------------------------------------------------ chunking

CHUNK_TOKENS = 64
SENT_EVERY = 7  # planted sentence boundary period for the UDTF branch
CHUNK_OVERLAP = 16


@register(
    "chunk_documents",
    f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    s AS (
      SELECT doc_id, t,
             CASE WHEN len(t) > 0 AND NOT (len(t) = 1 AND t[1] = '')
                  THEN range(1, GREATEST(len(t) - {CHUNK_OVERLAP}, 1) + 1,
                             {CHUNK_TOKENS - CHUNK_OVERLAP})
                  ELSE [] END AS starts
      FROM t),
    ex AS (
      SELECT doc_id, t,
             CAST(generate_subscripts(starts, 1) - 1 AS INTEGER) AS chunk_idx,
             CAST(unnest(starts) AS INTEGER) AS start_token
      FROM s),
    chunks AS (
      SELECT doc_id, chunk_idx,
             array_to_string(list_slice(t, start_token, start_token + {CHUNK_TOKENS} - 1), ' ') AS chunk_text,
             CAST(len(list_slice(t, start_token, start_token + {CHUNK_TOKENS} - 1)) AS INTEGER) AS n_chunk_tokens,
             start_token
      FROM ex),
    punct AS (
      SELECT doc_id,
             array_to_string(
               list_transform(range(1, len(t) + 1),
                 i -> t[i] || CASE WHEN i % {SENT_EVERY} = 0 THEN '.'
                                   ELSE '' END), ' ') AS stext
      FROM t),
    parts AS (
      SELECT doc_id,
             list_filter(
               list_transform(
                 string_split_regex(stext, '[.!?]+(\\s+|$)'), p -> trim(p)),
               p -> p <> '') AS ps
      FROM punct),
    sents AS (
      SELECT doc_id,
             CAST(generate_subscripts(ps, 1) - 1 AS INTEGER) AS sent_idx,
             unnest(ps) AS sentence
      FROM parts)
    SELECT 'chunks' AS branch, doc_id, chunk_idx, chunk_text,
           n_chunk_tokens, start_token,
           CAST(NULL AS INTEGER) AS sent_idx, CAST(NULL AS VARCHAR) AS sentence,
           CAST(NULL AS BOOLEAN) AS offsets_valid
    FROM chunks
    UNION ALL
    SELECT 'sentences' AS branch, doc_id, CAST(NULL AS INTEGER) AS chunk_idx,
           CAST(NULL AS VARCHAR) AS chunk_text,
           CAST(NULL AS INTEGER) AS n_chunk_tokens,
           CAST(NULL AS INTEGER) AS start_token,
           sent_idx, sentence, TRUE AS offsets_valid
    FROM sents
    """,
    doc=(
        "document segmentation, tagged: 'chunks' rows are fixed-size "
        f"{CHUNK_TOKENS}-token windows with {CHUNK_OVERLAP}-token overlap "
        "(operators/chunking.py — staged tokens + one posexplode: "
        "narrow, no shuffle, no UDF); 'sentences' rows run the Arrow-"
        "batched Python UDTF surface (operators/udtf.SplitSentences) as "
        "a LATERAL table function over a deterministically punctuated "
        f"copy of each document (a '.' after every {SENT_EVERY}th token "
        "— the corpus itself has no sentence punctuation), emitting "
        "(sent_idx, sentence) plus an offsets_valid verdict: the UDTF's "
        "[start_pos, end_pos) offsets must slice the source string back "
        "to the exact sentence (stated TRUE in the oracle, so any "
        "offset drift hash-fails).  The oracle restates the split with "
        "DuckDB regex functions."
    ),
)
def chunk_documents_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mongo2mysql_spark.operators.chunking import chunk_documents
    from mongo2mysql_spark.operators.udtf import register_udtfs
    from mongo2mysql_spark.queries import tagged_union

    d = T(spark, sf_dir, "documents", fanout=True)
    chunks = chunk_documents(
        d, "doc_id", "text", chunk_tokens=CHUNK_TOKENS, overlap=CHUNK_OVERLAP
    )
    register_udtfs(spark)
    toks = F.split(F.col("text"), " ")
    punct = d.select(
        "doc_id",
        F.array_join(
            F.transform(
                toks,
                lambda x, i: F.concat(
                    x,
                    F.when((i + 1) % SENT_EVERY == 0, F.lit(".")).otherwise(
                        F.lit("")
                    ),
                ),
            ),
            " ",
        ).alias("stext"),
    )
    punct.createOrReplaceTempView("__udtf_punct_docs")
    sents = spark.sql(
        """
        SELECT d.doc_id, d.stext, s.sent_idx, s.sentence,
               s.start_pos, s.end_pos
        FROM __udtf_punct_docs d, LATERAL split_sentences(d.stext) s
        """
    ).select(
        "doc_id",
        "sent_idx",
        F.regexp_replace("sentence", r"[.!?]+$", "").alias("sentence"),
        (
            F.expr("substring(stext, start_pos + 1, end_pos - start_pos)")
            == F.col("sentence")
        ).alias("offsets_valid"),
    )
    return tagged_union({"chunks": chunks, "sentences": sents})


# -------------------------------------------------------------- snapshot diff


@register(
    "snapshot_diff_orders",
    """
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 11 = 3 THEN 'added'
                WHEN o_orderkey % 13 = 5 THEN 'removed'
                WHEN o_orderkey % 17 = 2 THEN 'changed'
                ELSE 'unchanged' END AS status
    FROM orders
    WHERE NOT (o_orderkey % 11 = 3 AND o_orderkey % 13 = 5)
    """,
    doc=(
        "snapshot diff (operators/diffing.py): per-key added/removed/"
        "changed/unchanged between two synthesized orders snapshots (old "
        "drops key%11==3, new drops key%13==5 and bumps o_totalprice on "
        "key%17==2).  One full-outer join on (key, xxhash64 fingerprint) "
        "— wide columns pruned from the shuffle.  The oracle states each "
        "key's expected status directly from the modification predicates."
    ),
)
def snapshot_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mongo2mysql_spark.operators.diffing import snapshot_diff

    o = T(spark, sf_dir, "orders", fanout=True)
    old = o.filter(F.col("o_orderkey") % 11 != 3)
    new = o.filter(F.col("o_orderkey") % 13 != 5).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 17 == 2, F.col("o_totalprice") + 1.0
        ).otherwise(F.col("o_totalprice")),
    )
    return snapshot_diff(old, new, ["o_orderkey"])


# ---------------------------------------------------------- versioned tables


@register(
    "versioned_time_travel",
    """
    SELECT 0 AS version, n_nationkey, n_name, n_regionkey FROM nation
    UNION ALL
    SELECT 1, n_nationkey, n_name, n_regionkey FROM nation WHERE n_regionkey <> 2
    UNION ALL
    SELECT 2, n_nationkey, n_name, n_regionkey FROM nation
    """,
    doc=(
        "versioned parquet tables (sources/versioned.py): commit v0 = "
        "full nation, commit v1 = overwrite without region 2, v2 = "
        "rollback to v0 — then time-travel-read all three versions.  "
        "Immutable data dirs + exclusively-published JSON manifests; a "
        "reader holding version N is isolated from later commits.  The "
        "oracle states each version's expected content from the source "
        "table."
    ),
)
def versioned_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mongo2mysql_spark.sources.versioned import commit, read_version, rollback

    n = T(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    # the returned plan reads the table lazily: its directory is held
    # until the next call replaces it
    with held_dir("ext.versioned_table", "versioned_ttl_") as work:
        table = os.path.join(work, "nation_versions")
        commit(n, table, mode="overwrite")
        commit(n.filter(F.col("n_regionkey") != 2), table, mode="overwrite")
        rollback(table, 0)
    out = None
    for v in (0, 1, 2):
        part = read_version(spark, table, v).select(
            F.lit(v).alias("version"), "n_nationkey", "n_name", "n_regionkey"
        )
        out = part if out is None else out.unionByName(part)
    return out


# ---------------------------------------------------------------- PSI drift

_VALUE_EDGES = [5.0, 25.0, 100.0, 250.0]
_NCHARS_EDGES = [200.0, 400.0, 600.0]
_CAT_TOP_K = 3


def _psi_terms_sql(old_src: str, new_src: str, bucket: str) -> str:
    """CTE-free PSI over two bucketed sources: SELECT returning
    (psi, n_buckets).  ``bucket`` is an expression over the source row.
    Laplace smoothing 0.5, mirroring operators/drift.py."""
    return f"""
      SELECT SUM(
               ((COALESCE(nc.c, 0) + 0.5) / tot.nn - (COALESCE(oc.c, 0) + 0.5) / tot.no)
               * ln(((COALESCE(nc.c, 0) + 0.5) / tot.nn)
                    / ((COALESCE(oc.c, 0) + 0.5) / tot.no))
             ) AS psi,
             CAST(COUNT(*) AS INTEGER) AS n_buckets,
             CAST(SUM(COALESCE(oc.c, 0)) AS BIGINT) AS n_old,
             CAST(SUM(COALESCE(nc.c, 0)) AS BIGINT) AS n_new,
             CAST(SUM(COALESCE(oc.c, 0) * COALESCE(nc.c, 0)) AS BIGINT) AS hist_dot
      FROM (
        SELECT b FROM (SELECT {bucket} AS b FROM {old_src}) GROUP BY 1
        UNION
        SELECT b FROM (SELECT {bucket} AS b FROM {new_src}) GROUP BY 1
      ) allb
      LEFT JOIN (SELECT {bucket} AS b, COUNT(*) AS c FROM {old_src} GROUP BY 1) oc USING (b)
      LEFT JOIN (SELECT {bucket} AS b, COUNT(*) AS c FROM {new_src} GROUP BY 1) nc USING (b)
      CROSS JOIN (
        SELECT (SELECT COUNT(*) FROM {old_src})
               + 0.5 * (SELECT COUNT(*) FROM (
                   SELECT b FROM (SELECT {bucket} AS b FROM {old_src}) GROUP BY 1
                   UNION
                   SELECT b FROM (SELECT {bucket} AS b FROM {new_src}) GROUP BY 1)) AS no,
               (SELECT COUNT(*) FROM {new_src})
               + 0.5 * (SELECT COUNT(*) FROM (
                   SELECT b FROM (SELECT {bucket} AS b FROM {old_src}) GROUP BY 1
                   UNION
                   SELECT b FROM (SELECT {bucket} AS b FROM {new_src}) GROUP BY 1)) AS nn
      ) tot
    """


def _num_bucket_sql(col: str, edges: list[float]) -> str:
    arms = " ".join(
        f"WHEN {col} > {e} THEN {i + 1}" for i, e in reversed(list(enumerate(edges)))
    )
    return f"CASE WHEN {col} IS NULL THEN -1 {arms} ELSE 0 END"


def _cat_bucket_sql(col: str, baseline_src: str, top_k: int) -> str:
    top = (
        f"(SELECT {col} FROM {baseline_src} WHERE {col} IS NOT NULL "
        f"GROUP BY 1 ORDER BY COUNT(*) DESC, {col} LIMIT {top_k})"
    )
    return (
        f"CASE WHEN {col} IS NULL THEN '__null__' "
        f"WHEN {col} IN {top} THEN {col} ELSE '__other__' END"
    )


# cusum branch (operators/drift.cusum_changepoints): Page 1954 in
# 1e-6 units — slack 10.0, alarm threshold 500.0
_CUSUM_SLACK_Q = 10_000_000
_CUSUM_THRESHOLD_Q = 500_000_000


def _psi_oracle() -> str:
    ev_old = "(SELECT value FROM events WHERE event_id % 2 = 0) AS s"
    ev_new = "(SELECT value FROM events WHERE event_id % 2 = 1) AS s"
    d_old = "(SELECT n_chars, lang, source FROM documents WHERE doc_id % 2 = 0) AS s"
    d_new = "(SELECT n_chars, lang, source FROM documents WHERE doc_id % 2 = 1) AS s"
    branches = [
        ("numeric", "value", _psi_terms_sql(ev_old, ev_new, _num_bucket_sql("value", _VALUE_EDGES))),
        ("numeric", "n_chars", _psi_terms_sql(d_old, d_new, _num_bucket_sql("n_chars", _NCHARS_EDGES))),
        ("categorical", "lang", _psi_terms_sql(d_old, d_new, _cat_bucket_sql("lang", d_old, _CAT_TOP_K))),
        ("categorical", "source", _psi_terms_sql(d_old, d_new, _cat_bucket_sql("source", d_old, _CAT_TOP_K))),
    ]
    selects = [
        f"""SELECT '{kind}' AS kind, '{col}' AS column, n_buckets,
            CASE WHEN psi < 0.1 THEN 'stable'
                 WHEN psi <= 0.25 THEN 'moderate'
                 ELSE 'shifted' END AS verdict,
            n_old, n_new, hist_dot,
            CAST(NULL AS BIGINT) AS id,
            CAST(NULL AS BIGINT) AS value_q,
            CAST(NULL AS BIGINT) AS target_q,
            CAST(NULL AS BIGINT) AS cusum_s,
            CAST(NULL AS BOOLEAN) AS is_alarm
            FROM ({q})"""
        for kind, col, q in branches
    ]
    from mongo2mysql_spark.operators.drift import cusum_sql

    cusum_leg = f"""SELECT 'cusum' AS kind, key AS column,
            CAST(NULL AS INTEGER) AS n_buckets,
            CAST(NULL AS VARCHAR) AS verdict,
            CAST(NULL AS BIGINT) AS n_old, CAST(NULL AS BIGINT) AS n_new,
            CAST(NULL AS BIGINT) AS hist_dot,
            id, value_q, target_q, cusum_s, is_alarm
            FROM (WITH {cusum_sql("events", "event_type", "value", "ts",
                                  "event_id", _CUSUM_SLACK_Q,
                                  _CUSUM_THRESHOLD_Q)}
                  SELECT * FROM cusum)"""
    return "\nUNION ALL\n".join(selects + [cusum_leg])


@register(
    "drift_psi",
    _psi_oracle(),
    doc=(
        "population-stability-index drift report (operators/drift.py), "
        "numeric + categorical in one tagged result, between the even/odd "
        "halves of events (value) and documents (n_chars, lang, source).  "
        "Numeric buckets are PINNED edges (the production-monitor shape — "
        "a reference profile fixes buckets once); categorical buckets are "
        "the baseline's top-k + __other__/__null__.  Counts come from one "
        "fused melt+agg pass per side; the oracle recomputes every bucket "
        "count and the smoothed PSI sum in SQL.  Hash contract: the exact "
        "histogram integers (n_old/n_new row totals, old·new bucket dot "
        "product — they pin the bucketization) plus the banded verdict; "
        "the raw ln-derived psi is excluded (r4 lesson: transcendental-"
        "derived hashed values are not portable across libm builds).  "
        "'cusum' rows: Page 1954 sequential change-point detection per "
        "event_type (operators/drift.cusum_changepoints) — PSI compares "
        "two fixed populations, CUSUM watches the ORDERED stream: the "
        "recurrence max(0, s+(x−target−k)) rewritten to its associative "
        "prefix form s = p − min(0, running-min p), so the detector is "
        "one key-partitioned window carrying a running sum and a "
        "running min; all exact integers in 1e-6 units (target = per-"
        "key floor mean), every s and alarm verdict hashed with no "
        "float contract at all."
    ),
)
def drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mongo2mysql_spark.operators.drift import (
        cusum_changepoints,
        psi_report,
        psi_report_categorical,
    )

    ev = T(spark, sf_dir, "events", fanout=True)
    num_ev = psi_report(
        ev.filter(F.col("event_id") % 2 == 0),
        ev.filter(F.col("event_id") % 2 == 1),
        ["value"],
        edges={"value": _VALUE_EDGES},
    )
    d = T(spark, sf_dir, "documents", fanout=True)
    d_old = d.filter(F.col("doc_id") % 2 == 0)
    d_new = d.filter(F.col("doc_id") % 2 == 1)
    num_doc = psi_report(d_old, d_new, ["n_chars"], edges={"n_chars": _NCHARS_EDGES})
    cat = psi_report_categorical(d_old, d_new, ["lang", "source"], top_k=_CAT_TOP_K)

    def shape(df: DataFrame, kind: str) -> DataFrame:
        # hash contract: exact histogram integers + the banded verdict;
        # the ln-derived psi double itself is never hashed (r4 lesson)
        return df.select(
            F.lit(kind).alias("kind"),
            "column",
            "n_buckets",
            "verdict",
            "n_old",
            "n_new",
            "hist_dot",
        )

    cus = cusum_changepoints(
        ev, ["event_type"], "value", "ts", "event_id",
        slack_q=_CUSUM_SLACK_Q, threshold_q=_CUSUM_THRESHOLD_Q,
    ).select(
        F.lit("cusum").alias("kind"),
        F.col("event_type").alias("column"),
        F.lit(None).cast("int").alias("n_buckets"),
        F.lit(None).cast("string").alias("verdict"),
        F.lit(None).cast("long").alias("n_old"),
        F.lit(None).cast("long").alias("n_new"),
        F.lit(None).cast("long").alias("hist_dot"),
        "id", "value_q", "target_q", "cusum_s", "is_alarm",
    )
    psi = (
        shape(num_ev, "numeric")
        .unionByName(shape(num_doc, "numeric"))
        .unionByName(shape(cat, "categorical"))
    )
    for c, t in (("id", "long"), ("value_q", "long"), ("target_q", "long"),
                 ("cusum_s", "long"), ("is_alarm", "boolean")):
        psi = psi.withColumn(c, F.lit(None).cast(t))
    return psi.unionByName(cus)


# -------------------------------------------------------------------- SCD2

_SCD_EPOCH = "1990-01-01 00:00:00"
_SCD_SPLIT = "1996-01-01 00:00:00"
_SCD_B2_FROM = "1996-01-02 00:00:00"


@register(
    "scd2_point_in_time",
    f"""
    WITH b1 AS (
      SELECT * FROM (
        SELECT o_custkey AS c_custkey, o_orderpriority AS segment,
               CAST(o_orderdate AS TIMESTAMP) AS eff,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate DESC, o_orderpriority DESC) AS rn
        FROM orders WHERE o_orderdate < TIMESTAMP '{_SCD_SPLIT}')
      WHERE rn = 1)
    SELECT c.c_custkey,
           CASE WHEN b1.segment IS NOT NULL AND b1.segment <> c.c_mktsegment
                THEN b1.segment ELSE c.c_mktsegment END AS segment,
           CASE WHEN b1.segment IS NOT NULL AND b1.segment <> c.c_mktsegment
                THEN b1.eff ELSE TIMESTAMP '{_SCD_EPOCH}' END AS valid_from
    FROM customer c LEFT JOIN b1 USING (c_custkey)
    """,
    doc=(
        "SCD2 versioned dimension (sources/scd.py): bootstrap from the "
        "customer snapshot, apply two change batches derived from orders "
        "(latest per key per batch, effective at the order date), then "
        "point-in-time lookup as of the batch boundary.  Broadcast "
        "change-batch routing, no window over the dimension.  The oracle "
        "reconstructs the as-of view directly: a key shows its batch-1 "
        "change (if any, and if it differed) else its initial version — "
        "batch 2 is applied but must be invisible at the lookup time."
    ),
)
def scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mongo2mysql_spark.sources.scd import scd2_apply, scd2_init, scd2_lookup

    cust = T(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_mktsegment").alias("segment")
    )
    dim = scd2_init(cust, _SCD_EPOCH)
    o = T(spark, sf_dir, "orders", fanout=True).select(
        F.col("o_custkey").alias("c_custkey"),
        F.col("o_orderpriority").alias("segment"),
        F.col("o_orderdate").cast("timestamp").alias("eff"),
    )
    b1 = o.filter(F.col("eff") < F.lit(_SCD_SPLIT).cast("timestamp"))
    b2 = o.filter(F.col("eff") >= F.lit(_SCD_B2_FROM).cast("timestamp"))
    dim = scd2_apply(dim, b1, ["c_custkey"], ["segment"], "eff")
    dim = scd2_apply(dim, b2, ["c_custkey"], ["segment"], "eff")
    return scd2_lookup(dim, _SCD_SPLIT).select("c_custkey", "segment", "valid_from")


# --------------------------------------------------------- count-min sketch

_CMS_DEPTH = 4
_CMS_WIDTH = 1024
_CMS_PHI = 0.005


def _cms_oracle() -> str:
    from mongo2mysql_spark.operators.dedup import MINHASH_A, MINHASH_B, MINHASH_P

    base = "CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12) AS BIGINT)"
    cell_rows = ", ".join(
        f"({d}, {MINHASH_A[d]}, {MINHASH_B[d]})" for d in range(_CMS_DEPTH)
    )
    return f"""
    WITH hashed AS (SELECT user_id, {base} AS h FROM events),
    params(d, a, b) AS (VALUES {cell_rows}),
    sk AS (
      SELECT d, (a * h + b) % {MINHASH_P} % {_CMS_WIDTH} AS bucket, COUNT(*) AS c
      FROM hashed CROSS JOIN params GROUP BY 1, 2),
    keys AS (SELECT DISTINCT user_id AS key, h FROM hashed),
    est AS (
      SELECT key, MIN(COALESCE(sk.c, 0)) AS est
      FROM (SELECT key, d, (a * h + b) % {MINHASH_P} % {_CMS_WIDTH} AS bucket
            FROM keys CROSS JOIN params) kc
      LEFT JOIN sk USING (d, bucket)
      GROUP BY key)
    SELECT key, est FROM est
    WHERE est >= {_CMS_PHI} * (SELECT COUNT(*) FROM events)
    """


@register(
    "cms_heavy_hitters",
    _cms_oracle(),
    doc=(
        "count-min-sketch heavy hitters (operators/sketches.py): the "
        f"fixed-memory ({_CMS_DEPTH}x{_CMS_WIDTH} counters) hot-key "
        "detector feeding the salting levers.  The sketch is built as a "
        "MERGE of two half-sketches (event_id parity) — countmin_merge "
        "must equal the one-shot sketch the oracle states exactly; "
        "estimates are min-over-depth-buckets; the phi-threshold output "
        "is a superset of the true heavy keys (never undercounts).  The "
        "oracle restates the full bucket arithmetic (same md5-based "
        "Carter-Wegman family DuckDB already mirrors for MinHash)."
    ),
)
def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mongo2mysql_spark.operators.sketches import (
        countmin_build,
        countmin_estimate,
        countmin_merge,
    )

    ev = T(spark, sf_dir, "events", fanout=True)
    key = F.col("user_id")
    sk = countmin_merge(
        countmin_build(ev.filter(F.col("event_id") % 2 == 0), key,
                       depth=_CMS_DEPTH, width=_CMS_WIDTH),
        countmin_build(ev.filter(F.col("event_id") % 2 == 1), key,
                       depth=_CMS_DEPTH, width=_CMS_WIDTH),
    )
    n = ev.count()
    distinct = ev.select(key.alias("key")).distinct()
    est = countmin_estimate(distinct, sk, F.col("key"),
                            depth=_CMS_DEPTH, width=_CMS_WIDTH)
    return est.filter(F.col("est") >= F.lit(_CMS_PHI * n)).select("key", "est")


# ------------------------------------------------------------ BPE round trip

_BPE_MERGES = 8


@register(
    "bpe_roundtrip",
    r"""
    SELECT doc_id, trim(regexp_replace(text, '\s+', ' ', 'g')) AS text
    FROM documents
    WHERE length(trim(regexp_replace(text, '\s+', ' ', 'g'))) > 0
    """,
    doc=(
        "BPE subword codec (operators/bpe.py, Sennrich ACL 2016): learn "
        f"{_BPE_MERGES} merges from the corpus word-frequency table "
        "(vocabulary-sized — the corpus is scanned once), tokenize, map "
        "symbols to contiguous frequency-ranked ids, then DECODE the id "
        "arrays back to text.  The oracle states the original "
        "(whitespace-normalized) text — a hash match proves the whole "
        "learn→encode→id→decode chain lossless on every document."
    ),
)
def bpe_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mongo2mysql_spark.operators.bpe import (
        apply_merges,
        build_vocab,
        decode_ids,
        encode_ids,
        learn_merges,
        word_freq_table,
    )

    d = T(spark, sf_dir, "documents", fanout=True).select(
        "doc_id",
        F.trim(F.regexp_replace("text", r"\s+", " ")).alias("text"),
    ).filter(F.length("text") > 0)
    merges = learn_merges(word_freq_table(d), n_merges=_BPE_MERGES)
    encoded = apply_merges(d, merges).localCheckpoint()
    vocab = build_vocab(encoded).localCheckpoint()
    ids = encode_ids(encoded, vocab, "doc_id")
    return decode_ids(ids, vocab, "doc_id").select("doc_id", "text")


# ------------------------------------------------------- resample / gap-fill

_RESAMPLE_INTERVAL = 3600
# rolling z-score branch (operators/anomaly.rolling_frame_stats)
_Z_WINDOW, _Z_MIN_POINTS, _Z_THRESHOLD = 20, 5, 3
# seasonal-naive forecast/backtest branches (operators/forecast)
_FC_SPLIT_NUM, _FC_SPLIT_DEN = 3, 4
# typed NULLs for the resample/zscore columns inside the forecast legs
_TS_FC_NULLS = """CAST(NULL AS TIMESTAMP) AS bucket_start,
           CAST(NULL AS VARCHAR) AS value_num,
           CAST(NULL AS VARCHAR) AS value_den,
           CAST(NULL AS BIGINT) AS n_obs,
           CAST(NULL AS BOOLEAN) AS filled,
           CAST(NULL AS BIGINT) AS event_id, CAST(NULL AS BIGINT) AS value_q,
           CAST(NULL AS BIGINT) AS n_prev, CAST(NULL AS BIGINT) AS frame_sum_q,
           CAST(NULL AS VARCHAR) AS frame_sumsq_q,
           CAST(NULL AS BOOLEAN) AS is_ready,
           CAST(NULL AS BOOLEAN) AS is_constant_window,
           CAST(NULL AS BOOLEAN) AS is_anomaly"""
# typed NULLs for the OHLC-bar columns inside every non-ohlc leg
_OHLC_NULLS = """CAST(NULL AS BIGINT) AS open_q,
           CAST(NULL AS BIGINT) AS high_q, CAST(NULL AS BIGINT) AS low_q,
           CAST(NULL AS BIGINT) AS close_q, CAST(NULL AS BIGINT) AS range_q,
           CAST(NULL AS BIGINT) AS gain_q, CAST(NULL AS BIGINT) AS sum_q,
           CAST(NULL AS DOUBLE) AS mean_value"""
# MAD robust-outlier branch (operators/anomaly.mad_outliers)
_MAD_K = 5
# typed NULLs for the MAD columns inside every non-mad leg
_MAD_NULLS = """CAST(NULL AS DOUBLE) AS raw_value,
           CAST(NULL AS DOUBLE) AS med, CAST(NULL AS DOUBLE) AS mad,
           CAST(NULL AS DOUBLE) AS abs_dev,
           CAST(NULL AS BOOLEAN) AS is_degenerate,
           CAST(NULL AS BOOLEAN) AS is_mad_outlier"""
# typed NULLs for the TWAP columns inside every non-twap leg
_TWAP_NULLS = """CAST(NULL AS VARCHAR) AS twap_num,
           CAST(NULL AS BIGINT) AS twap_den,
           CAST(NULL AS DOUBLE) AS twap"""
# typed NULLs for the OLS-trend columns inside every non-trend leg
_TREND_NULLS = """CAST(NULL AS BIGINT) AS lo_hour,
           CAST(NULL AS BIGINT) AS n_hours, CAST(NULL AS BIGINT) AS total_cnt,
           CAST(NULL AS VARCHAR) AS slope_num,
           CAST(NULL AS VARCHAR) AS slope_den,
           CAST(NULL AS DOUBLE) AS slope,
           CAST(NULL AS DOUBLE) AS intercept"""


@register(
    "resample_gapfill",
    f"""
    WITH {seasonal_backtest_sql("events", "event_type", "ts",
                                _FC_SPLIT_NUM, _FC_SPLIT_DEN)},
    {ohlc_bars_sql("events", "event_type", "ts", "value", "event_id",
                   _RESAMPLE_INTERVAL)},
    {hourly_trend_sql("events", "event_type", "ts")},
    {twap_bars_sql("events", "event_type", "ts", "value", "event_id",
                   _RESAMPLE_INTERVAL)},
    mmed AS (SELECT event_type AS key, quantile_cont(value, 0.5) AS med
             FROM events GROUP BY 1),
    mdev AS (SELECT e.event_id, e.event_type AS key, e.value AS raw_value,
                    m.med, abs(e.value - m.med) AS abs_dev
             FROM events e JOIN mmed m ON m.key = e.event_type),
    mmad AS (SELECT key, quantile_cont(abs_dev, 0.5) AS mad
             FROM mdev GROUP BY 1),
    mout AS (SELECT d.event_id, d.key, d.raw_value, d.med, a.mad, d.abs_dev,
                    a.mad = 0 AS is_degenerate,
                    a.mad > 0 AND d.abs_dev > {_MAD_K} * a.mad
                      AS is_mad_outlier
             FROM mdev d JOIN mmad a USING (key)),
    obs AS (
      SELECT event_type AS key,
             CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) // {_RESAMPLE_INTERVAL} AS b,
             CAST(SUM(CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT))
                  AS HUGEINT) AS sum_q,
             COUNT(*) AS n_obs
      FROM events GROUP BY 1, 2),
    span AS (SELECT key, MIN(b) AS lo, MAX(b) AS hi FROM obs GROUP BY 1),
    grid AS (SELECT key, unnest(range(lo, hi + 1)) AS b FROM span),
    j AS (SELECT g.key, g.b, o.sum_q, o.n_obs
          FROM grid g LEFT JOIN obs o USING (key, b)),
    w AS (
      SELECT key, b, sum_q, n_obs,
        last_value(sum_q IGNORE NULLS) OVER fwd AS pn,
        last_value(n_obs IGNORE NULLS) OVER fwd AS pd,
        last_value(CASE WHEN sum_q IS NOT NULL THEN b END IGNORE NULLS) OVER fwd AS prev_b,
        last_value(sum_q IGNORE NULLS) OVER bwd AS nn,
        last_value(n_obs IGNORE NULLS) OVER bwd AS nd,
        last_value(CASE WHEN sum_q IS NOT NULL THEN b END IGNORE NULLS) OVER bwd AS next_b
      FROM j
      WINDOW fwd AS (PARTITION BY key ORDER BY b
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             bwd AS (PARTITION BY key ORDER BY b DESC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    rs AS (
      SELECT key,
             make_timestamp(b * {_RESAMPLE_INTERVAL} * 1000000) AS bucket_start,
             CAST(CASE WHEN sum_q IS NOT NULL THEN sum_q
                       WHEN next_b IS NOT NULL AND next_b <> prev_b
                       THEN CAST(pn AS HUGEINT) * nd * (next_b - prev_b)
                            + (CAST(nn AS HUGEINT) * pd
                               - CAST(pn AS HUGEINT) * nd) * (b - prev_b)
                       ELSE pn END AS DECIMAL(38,0)) AS value_num,
             CAST(CASE WHEN sum_q IS NOT NULL THEN n_obs
                       WHEN next_b IS NOT NULL AND next_b <> prev_b
                       THEN CAST(pd AS HUGEINT) * nd * (next_b - prev_b)
                       ELSE pd END AS DECIMAL(38,0)) AS value_den,
             COALESCE(n_obs, 0) AS n_obs,
             sum_q IS NULL AS filled
      FROM w),
    eq AS (
      SELECT event_id, event_type AS key, CAST(ts AS TIMESTAMP) AS ts,
             CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS value_q
      FROM events),
    zw AS (
      SELECT event_id, key, value_q,
             COUNT(value_q) OVER f AS n_prev,
             CAST(COALESCE(SUM(value_q) OVER f, 0) AS BIGINT) AS frame_sum_q,
             CAST(COALESCE(SUM(CAST(value_q AS HUGEINT) * value_q) OVER f, 0)
                  AS DECIMAL(38,0)) AS frame_sumsq_q
      FROM eq
      WINDOW f AS (PARTITION BY key ORDER BY ts, event_id
                   ROWS BETWEEN {_Z_WINDOW} PRECEDING AND 1 PRECEDING)),
    zv AS (
      SELECT event_id, key, value_q, n_prev, frame_sum_q, frame_sumsq_q,
             n_prev >= {_Z_MIN_POINTS} AS is_ready,
             CAST(n_prev AS HUGEINT) * CAST(frame_sumsq_q AS HUGEINT)
               - CAST(frame_sum_q AS HUGEINT) * frame_sum_q AS var_n2,
             CAST(n_prev AS HUGEINT) * value_q - frame_sum_q AS d
      FROM zw)
    SELECT 'resample' AS branch, key, bucket_start,
           CAST(value_num AS VARCHAR) AS value_num,
           CAST(value_den AS VARCHAR) AS value_den,
           n_obs, filled,
           CAST(NULL AS BIGINT) AS event_id, CAST(NULL AS BIGINT) AS value_q,
           CAST(NULL AS BIGINT) AS n_prev, CAST(NULL AS BIGINT) AS frame_sum_q,
           CAST(NULL AS VARCHAR) AS frame_sumsq_q,
           CAST(NULL AS BOOLEAN) AS is_ready,
           CAST(NULL AS BOOLEAN) AS is_constant_window,
           CAST(NULL AS BOOLEAN) AS is_anomaly,
           CAST(NULL AS INTEGER) AS hod,
           CAST(NULL AS BIGINT) AS train_cnt,
           CAST(NULL AS BIGINT) AS n_train_hours,
           CAST(NULL AS DOUBLE) AS pred,
           CAST(NULL AS BIGINT) AS n_test_hours,
           CAST(NULL AS BIGINT) AS total_actual,
           CAST(NULL AS DOUBLE) AS mae,
           {_OHLC_NULLS},
           {_TREND_NULLS},
           {_MAD_NULLS},
           {_TWAP_NULLS}
    FROM rs
    UNION ALL
    SELECT 'zscore' AS branch, key, CAST(NULL AS TIMESTAMP) AS bucket_start,
           CAST(NULL AS VARCHAR) AS value_num,
           CAST(NULL AS VARCHAR) AS value_den,
           CAST(NULL AS BIGINT) AS n_obs,
           CAST(NULL AS BOOLEAN) AS filled,
           event_id, value_q, n_prev, frame_sum_q,
           CAST(frame_sumsq_q AS VARCHAR) AS frame_sumsq_q,
           is_ready,
           (is_ready AND var_n2 = 0) AS is_constant_window,
           (is_ready AND var_n2 > 0
            AND d * d > {_Z_THRESHOLD * _Z_THRESHOLD} * var_n2) AS is_anomaly,
           CAST(NULL AS INTEGER) AS hod,
           CAST(NULL AS BIGINT) AS train_cnt,
           CAST(NULL AS BIGINT) AS n_train_hours,
           CAST(NULL AS DOUBLE) AS pred,
           CAST(NULL AS BIGINT) AS n_test_hours,
           CAST(NULL AS BIGINT) AS total_actual,
           CAST(NULL AS DOUBLE) AS mae,
           {_OHLC_NULLS},
           {_TREND_NULLS},
           {_MAD_NULLS},
           {_TWAP_NULLS}
    FROM zv
    UNION ALL
    SELECT 'forecast' AS branch, key, {_TS_FC_NULLS},
           hod, train_cnt, n_train_hours, pred,
           CAST(NULL AS BIGINT) AS n_test_hours,
           CAST(NULL AS BIGINT) AS total_actual,
           CAST(NULL AS DOUBLE) AS mae,
           {_OHLC_NULLS},
           {_TREND_NULLS},
           {_MAD_NULLS},
           {_TWAP_NULLS}
    FROM fcast
    UNION ALL
    SELECT 'backtest' AS branch, key, {_TS_FC_NULLS},
           CAST(NULL AS INTEGER) AS hod,
           CAST(NULL AS BIGINT) AS train_cnt,
           CAST(NULL AS BIGINT) AS n_train_hours,
           CAST(NULL AS DOUBLE) AS pred,
           n_test_hours, total_actual, mae,
           {_OHLC_NULLS},
           {_TREND_NULLS},
           {_MAD_NULLS},
           {_TWAP_NULLS}
    FROM fback
    UNION ALL
    SELECT 'ohlc' AS branch, key, bucket_start,
           CAST(NULL AS VARCHAR) AS value_num,
           CAST(NULL AS VARCHAR) AS value_den,
           n_obs,
           CAST(NULL AS BOOLEAN) AS filled,
           CAST(NULL AS BIGINT) AS event_id, CAST(NULL AS BIGINT) AS value_q,
           CAST(NULL AS BIGINT) AS n_prev, CAST(NULL AS BIGINT) AS frame_sum_q,
           CAST(NULL AS VARCHAR) AS frame_sumsq_q,
           CAST(NULL AS BOOLEAN) AS is_ready,
           CAST(NULL AS BOOLEAN) AS is_constant_window,
           CAST(NULL AS BOOLEAN) AS is_anomaly,
           CAST(NULL AS INTEGER) AS hod,
           CAST(NULL AS BIGINT) AS train_cnt,
           CAST(NULL AS BIGINT) AS n_train_hours,
           CAST(NULL AS DOUBLE) AS pred,
           CAST(NULL AS BIGINT) AS n_test_hours,
           CAST(NULL AS BIGINT) AS total_actual,
           CAST(NULL AS DOUBLE) AS mae,
           open_q, high_q, low_q, close_q, range_q, gain_q, sum_q,
           mean_value,
           {_TREND_NULLS},
           {_MAD_NULLS},
           {_TWAP_NULLS}
    FROM obars
    UNION ALL
    SELECT 'trend' AS branch, key, {_TS_FC_NULLS},
           CAST(NULL AS INTEGER) AS hod,
           CAST(NULL AS BIGINT) AS train_cnt,
           CAST(NULL AS BIGINT) AS n_train_hours,
           CAST(NULL AS DOUBLE) AS pred,
           CAST(NULL AS BIGINT) AS n_test_hours,
           CAST(NULL AS BIGINT) AS total_actual,
           CAST(NULL AS DOUBLE) AS mae,
           {_OHLC_NULLS},
           lo_hour, n_hours, total_cnt, slope_num, slope_den, slope,
           intercept,
           {_MAD_NULLS},
           {_TWAP_NULLS}
    FROM htrend
    UNION ALL
    SELECT 'mad' AS branch, key,
           CAST(NULL AS TIMESTAMP) AS bucket_start,
           CAST(NULL AS VARCHAR) AS value_num,
           CAST(NULL AS VARCHAR) AS value_den,
           CAST(NULL AS BIGINT) AS n_obs,
           CAST(NULL AS BOOLEAN) AS filled,
           event_id, CAST(NULL AS BIGINT) AS value_q,
           CAST(NULL AS BIGINT) AS n_prev, CAST(NULL AS BIGINT) AS frame_sum_q,
           CAST(NULL AS VARCHAR) AS frame_sumsq_q,
           CAST(NULL AS BOOLEAN) AS is_ready,
           CAST(NULL AS BOOLEAN) AS is_constant_window,
           CAST(NULL AS BOOLEAN) AS is_anomaly,
           CAST(NULL AS INTEGER) AS hod,
           CAST(NULL AS BIGINT) AS train_cnt,
           CAST(NULL AS BIGINT) AS n_train_hours,
           CAST(NULL AS DOUBLE) AS pred,
           CAST(NULL AS BIGINT) AS n_test_hours,
           CAST(NULL AS BIGINT) AS total_actual,
           CAST(NULL AS DOUBLE) AS mae,
           {_OHLC_NULLS},
           {_TREND_NULLS},
           raw_value, med, mad, abs_dev, is_degenerate, is_mad_outlier,
           {_TWAP_NULLS}
    FROM mout
    UNION ALL
    SELECT 'twap' AS branch, key, bucket_start,
           CAST(NULL AS VARCHAR) AS value_num,
           CAST(NULL AS VARCHAR) AS value_den,
           n_obs,
           CAST(NULL AS BOOLEAN) AS filled,
           CAST(NULL AS BIGINT) AS event_id, CAST(NULL AS BIGINT) AS value_q,
           CAST(NULL AS BIGINT) AS n_prev, CAST(NULL AS BIGINT) AS frame_sum_q,
           CAST(NULL AS VARCHAR) AS frame_sumsq_q,
           CAST(NULL AS BOOLEAN) AS is_ready,
           CAST(NULL AS BOOLEAN) AS is_constant_window,
           CAST(NULL AS BOOLEAN) AS is_anomaly,
           CAST(NULL AS INTEGER) AS hod,
           CAST(NULL AS BIGINT) AS train_cnt,
           CAST(NULL AS BIGINT) AS n_train_hours,
           CAST(NULL AS DOUBLE) AS pred,
           CAST(NULL AS BIGINT) AS n_test_hours,
           CAST(NULL AS BIGINT) AS total_actual,
           CAST(NULL AS DOUBLE) AS mae,
           {_OHLC_NULLS},
           {_TREND_NULLS},
           {_MAD_NULLS},
           twap_num, twap_den, twap
    FROM tbars
    """,
    doc=(
        "time-series surface, tagged: 'resample' rows are resample + "
        "gap-fill (operators/resample.py — the time_bucket_gapfill/"
        "interpolate shape): events regularized onto an hourly grid per "
        "event_type, empty buckets linearly interpolated between "
        "surrounding observations (trailing edge falls back to locf); "
        "grid = explode(sequence(min..max)) per key — rows ∝ keys × "
        "span, never a cross join.  The interpolated value is hash-"
        "verified as an exact integer rational value_num/value_den in "
        "1e-6 units (the operator's own verification form — no float-"
        "derived hashed column, per the r4 regression lesson; the wide-"
        "decimal precursors are served as VARCHAR, digit-exact for "
        "scale-0 decimals, per the r5 lesson — decimal(38,0) hashed "
        "columns diverged in the driver's hasher while matching every "
        "local gate); the "
        "double `value` the operator serves users is derived from that "
        "rational and excluded here.  'zscore' rows are per-event rolling-"
        "window anomaly verdicts (operators/anomaly.rolling_frame_stats "
        f"— trailing {_Z_WINDOW}-row frame excluding the current row, "
        f"|z| > {_Z_THRESHOLD}): the exact-decimal squared-inequality "
        "form, so frame sums and anomaly booleans hash-match bit-for-"
        "bit; tests pin it to the floating rolling_zscore.  One shuffle "
        "per branch, both on the series key.  'forecast'/'backtest' "
        "rows: seasonal-naive hourly forecasting with an exact MAE "
        "backtest (operators/forecast — fit per-(series, hour-of-day) "
        "mean counts on the first "
        f"{_FC_SPLIT_NUM}/{_FC_SPLIT_DEN} of the span, score the rest; "
        "the expected-hour grid makes silent hours count as zeros in "
        "both fit and test; prediction is one IEEE division of exact "
        "integers and MAE accumulates through the order-free decimal "
        "dsum, so rates AND errors hash bit-for-bit).  'ohlc' rows: "
        "OHLC time-bar downsampling (operators/bars — the kdb/"
        "TimescaleDB candlestick shape): per (event_type, hour) the "
        "open/high/low/close of the 1e-6-quantized value, open/close "
        "as min_by/max_by over the lexicographic (ts, event_id) struct "
        "— an AGGREGATE, map-side partials, never a bucket-partitioned "
        "row_number window; one narrow scan, one hash aggregate, the "
        "only float served is sum_q/(n·10^6) — one IEEE division.  "
        "'trend' rows: exact per-series OLS over hourly counts "
        "(operators/trend): silent hours count as zeros WITHOUT a grid "
        "— zero cells contribute nothing to Σy/Σxy and the x-sums over "
        "the contiguous span have closed forms, so the whole fit is "
        "hourly cells → one per-key aggregate; slope_num/slope_den are "
        "exact DECIMAL(38,0) normal-equation integers (hashed as "
        "VARCHAR per the r5 wide-decimal lesson), slope/intercept one "
        "IEEE division each.  'mad' rows: median/MAD robust outliers "
        "per series (operators/anomaly.mad_outliers — the 50%-"
        "breakdown complement of the rolling z-score, whose mean/std "
        "are dragged by the outliers themselves): both medians served "
        "by grouped_exact_quantiles (bit-identical to quantile_cont, "
        "no per-group buffer), deviation one IEEE subtract+abs, "
        "verdict |v−med| > k·mad a float comparison of identical "
        "operands; mad = 0 series flagged degenerate instead of "
        "silently vacuous.  'twap' rows: time-weighted averages per "
        "(series, hour) (operators/bars.twap_bars — the TimescaleDB "
        "time_weight('locf') shape): each observation holds its value "
        "until the next one or the bucket end (bucket-local, so the "
        "aggregate stays per-bucket decomposable); weights exact "
        "integer seconds, twap_num/twap_den a digit-exact rational, "
        "twap one IEEE division; one lead() window + one hash "
        "aggregate."
    ),
)
def resample_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mongo2mysql_spark.operators.anomaly import rolling_frame_stats
    from mongo2mysql_spark.operators.resample import resample_interpolate
    from mongo2mysql_spark.queries import tagged_union

    ev = T(spark, sf_dir, "events", fanout=True)
    # value_num/value_den are exact DECIMAL(38,0) rationals in the
    # operator; hash them as VARCHAR — digit-exact for scale-0 decimals
    # and portable across engine decimal renderings (the r5 driver
    # hash-fail correlated exactly with wide-decimal hashed columns).
    rs = (
        resample_interpolate(
            ev, "event_type", "ts", "value",
            interval_seconds=_RESAMPLE_INTERVAL, method="interpolate",
        )
        .drop("value")
        .withColumn("value_num", F.col("value_num").cast("string"))
        .withColumn("value_den", F.col("value_den").cast("string"))
    )
    zs = rolling_frame_stats(
        ev.select("event_type", "event_id", "ts", "value"),
        ["event_type"],
        "ts",
        "value",
        window=_Z_WINDOW,
        min_points=_Z_MIN_POINTS,
        threshold=_Z_THRESHOLD,
        tiebreak_cols=["event_id"],
    ).select(
        F.col("event_type").alias("key"),
        "event_id",
        "value_q",
        "n_prev",
        "frame_sum_q",
        F.col("frame_sumsq_q").cast("string").alias("frame_sumsq_q"),
        "is_ready",
        "is_constant_window",
        "is_anomaly",
    )
    from mongo2mysql_spark.operators.anomaly import mad_outliers
    from mongo2mysql_spark.operators.bars import ohlc_bars, twap_bars
    from mongo2mysql_spark.operators.forecast import seasonal_backtest
    from mongo2mysql_spark.operators.trend import hourly_trend

    fc, bt = seasonal_backtest(
        ev, "event_type", "ts",
        split_frac_num=_FC_SPLIT_NUM, split_frac_den=_FC_SPLIT_DEN,
    )
    ohlc = ohlc_bars(
        ev, "event_type", "ts", "value", "event_id",
        interval_seconds=_RESAMPLE_INTERVAL,
    )
    trend = hourly_trend(ev, "event_type", "ts")
    twap = twap_bars(
        ev, "event_type", "ts", "value", "event_id",
        interval_seconds=_RESAMPLE_INTERVAL,
    )
    mad = mad_outliers(
        ev.select("event_type", "event_id", "value"),
        ["event_type"], "value", ["event_id"], k=_MAD_K,
    ).select(
        F.col("event_type").alias("key"), "event_id",
        F.col("value").alias("raw_value"),
        "med", "mad", "abs_dev", "is_degenerate", "is_mad_outlier",
    )
    return tagged_union(
        {
            "resample": rs,
            "zscore": zs,
            "forecast": fc,
            "backtest": bt,
            "ohlc": ohlc,
            "trend": trend,
            "twap": twap,
            "mad": mad,
        }
    )


# ------------------------------- SemDeDup + quality classifier (model-based
# curation family: embedding-space pruning + discriminative quality gate)

_SEM_STRIDE = 40
_SEM_OFFSET = 100000
# classifier branch (operators/classifier.py): planted-token labels
_CLF_PLANT_TOKENS = ("zqa", "zqb", "zqc", "zqd")
_CLF_PLANT = " " + " ".join(_CLF_PLANT_TOKENS * 2)
_CLF_ITERS, _CLF_L2, _CLF_TOP = 12, 1e-2, 16

_CLF_NULLS = """
           CAST(NULL AS BIGINT) AS n_train, CAST(NULL AS BIGINT) AS n_holdout,
           CAST(NULL AS BIGINT) AS tp, CAST(NULL AS BIGINT) AS tn,
           CAST(NULL AS BIGINT) AS fp, CAST(NULL AS BIGINT) AS fn,
           CAST(NULL AS BOOLEAN) AS loss_ok,
           CAST(NULL AS BOOLEAN) AS planted_top"""
_WHITEN_K = 16
_WHITEN_NULLS = """
           CAST(NULL AS BIGINT) AS n_vecs, CAST(NULL AS INTEGER) AS dim,
           CAST(NULL AS BOOLEAN) AS identity_ok,
           CAST(NULL AS BOOLEAN) AS trunc_ok"""


@register(
    "semdedup_planted",
    f"""
    SELECT 'semdedup' AS branch, vec_id + {_SEM_OFFSET} AS clone_id,
           TRUE AS same_group,
           FALSE AS clone_kept,
           TRUE AS src_kept,
           {_CLF_NULLS},
           {_WHITEN_NULLS}
    FROM embeddings WHERE vec_id % {_SEM_STRIDE} = 0
    UNION ALL
    SELECT 'classifier' AS branch, CAST(NULL AS BIGINT) AS clone_id,
           CAST(NULL AS BOOLEAN) AS same_group,
           CAST(NULL AS BOOLEAN) AS clone_kept,
           CAST(NULL AS BOOLEAN) AS src_kept,
           (SELECT count(*) FROM documents WHERE doc_id % 5 <> 0) AS n_train,
           (SELECT count(*) FROM documents WHERE doc_id % 5 = 0) AS n_holdout,
           (SELECT count(*) FROM documents
            WHERE doc_id % 5 = 0 AND doc_id % 2 = 1) AS tp,
           (SELECT count(*) FROM documents
            WHERE doc_id % 5 = 0 AND doc_id % 2 = 0) AS tn,
           CAST(0 AS BIGINT) AS fp, CAST(0 AS BIGINT) AS fn,
           TRUE AS loss_ok, TRUE AS planted_top,
           {_WHITEN_NULLS}
    UNION ALL
    SELECT 'whiten' AS branch, CAST(NULL AS BIGINT) AS clone_id,
           CAST(NULL AS BOOLEAN) AS same_group,
           CAST(NULL AS BOOLEAN) AS clone_kept,
           CAST(NULL AS BOOLEAN) AS src_kept,
           {_CLF_NULLS},
           (SELECT count(*) FROM embeddings) AS n_vecs,
           (SELECT CAST(MAX(len(embedding)) AS INTEGER) FROM embeddings) AS dim,
           TRUE AS identity_ok, TRUE AS trunc_ok
    """,
    doc=(
        "model-based curation, tagged.  'semdedup' rows: semantic dedup "
        "(operators/semdedup.py, SemDeDup — Abbas et al.): k-means-"
        "blocked within-cluster cosine pairs → connected components → "
        "min-id keeper.  The corpus is embeddings plus byte-identical "
        f"clones (vec_id+{_SEM_OFFSET} for every {_SEM_STRIDE}th "
        "vector); per planted clone the row states whether it shares a "
        "dedup group with its source plus both keep verdicts — the "
        "oracle states the ground truth, blocking-independent.  "
        "'classifier' row: the fasttext-shaped quality gate "
        "(operators/classifier.py — GPT-3 Appendix A's discriminative "
        "filter): documents with planted marker tokens (doc_id odd) "
        "must be perfectly separated on a held-out fifth after "
        f"{_CLF_ITERS} distributed logistic-regression iterations over "
        "hashed-n-gram percent frequencies.  The oracle restates the "
        "train/holdout sizes and the PERFECT confusion matrix from "
        "doc_id arithmetic (fp = fn = 0 — any training or serving "
        "regression flips real counts; holdout margins are O(1), far "
        "above float-order noise) and asserts the loss-descent and "
        "planted-buckets-atop-the-weight-table verdicts TRUE.  No "
        "float is hashed; the keep decision is the sign of a linear "
        "score.  'whiten' row: PCA whitening "
        "(operators/projection.py, the IVF/PQ preprocessing): two "
        "Arrow moment/matmul sweeps; the row verifies the operator's "
        "ALGEBRA — whitened sample covariance = I and mean = 0 within "
        "float tolerance (identity_ok), top-"
        f"{_WHITEN_K} truncation strictly partial but substantive "
        "variance (trunc_ok) — plus exact vector count and width; "
        "LAPACK-derived projections themselves are never hashed."
    ),
)
def semdedup_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mongo2mysql_spark.operators.semdedup import semantic_dedup
    from mongo2mysql_spark.queries import tagged_union

    e = T(spark, sf_dir, "embeddings", fanout=True).select("vec_id", "embedding")
    clones = e.filter(F.col("vec_id") % _SEM_STRIDE == 0).select(
        (F.col("vec_id") + _SEM_OFFSET).alias("vec_id"), "embedding"
    )
    corpus = e.unionByName(clones)
    verdicts = semantic_dedup(
        corpus, "vec_id", "embedding", min_cosine=0.999, blocking="kmeans"
    )
    c = verdicts.alias("c")
    s = verdicts.alias("s")
    sem = (
        c.filter(F.col("c.id") >= _SEM_OFFSET)
        .join(s, F.col("c.id") - _SEM_OFFSET == F.col("s.id"))
        .select(
            F.col("c.id").alias("clone_id"),
            (F.col("c.group_id") == F.col("s.group_id")).alias("same_group"),
            F.col("c.is_kept").alias("clone_kept"),
            F.col("s.is_kept").alias("src_kept"),
        )
    )
    return tagged_union(
        {
            "semdedup": sem,
            "classifier": _classifier_gate_report(spark, sf_dir),
            "whiten": _whitening_report(spark, sf_dir),
        }
    )


def _whitening_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row algebra audit of PCA whitening on the embeddings table
    — see the registry doc above for the verification contract."""
    from mongo2mysql_spark.operators.projection import pca_whiten

    e = T(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    _, full = pca_whiten(e, "embedding")
    _, trunc = pca_whiten(e, "embedding", k=_WHITEN_K)
    identity_ok = (
        full["max_abs_mean"] < 1e-6
        and full["max_offdiag"] < 1e-3
        and 0.99 < full["diag_lo"] <= full["diag_hi"] < 1.01
        and full["explained_variance_ratio"] > 0.999
    )
    trunc_ok = (
        trunc["k"] == _WHITEN_K
        and 0.0 < trunc["explained_variance_ratio"] < 1.0
        and trunc["max_offdiag"] < 1e-3
    )
    return spark.createDataFrame(
        [(full["n"], full["dim"], identity_ok, trunc_ok)],
        "n_vecs bigint, dim int, identity_ok boolean, trunc_ok boolean",
    )


def _classifier_gate_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row audit of the discriminative quality gate on planted
    labels — see the registry doc above for the verification contract."""
    import hashlib

    from mongo2mysql_spark.operators.classifier import (
        holdout_confusion,
        loss_decreased,
        normalized_features,
        score_documents,
        train_quality_classifier,
    )
    from mongo2mysql_spark.operators.dsir import bucket_counts, hashed_grams

    d = T(spark, sf_dir, "documents")
    planted = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 2 == 1, F.concat("text", F.lit(_CLF_PLANT))
        )
        .otherwise(F.col("text"))
        .alias("text"),
        (F.col("doc_id") % 2).alias("y"),
    )
    feats = normalized_features(
        bucket_counts(hashed_grams(planted, "doc_id", "text"), "doc_id"),
        "doc_id",
    ).persist()
    labels = planted.select("doc_id", "y")
    train = labels.filter(F.col("doc_id") % 5 != 0)
    hold = labels.filter(F.col("doc_id") % 5 == 0)
    w, bias, losses = train_quality_classifier(
        feats.join(train.select("doc_id"), "doc_id"),
        train,
        "doc_id",
        "y",
        n_iters=_CLF_ITERS,
        l2=_CLF_L2,
    )
    scored = score_documents(
        feats.join(hold.select("doc_id"), "doc_id"), w, bias, "doc_id"
    )
    # feature-less docs (none in the fixtures, defensively handled)
    # score bias-only through the left join
    scored_all = (
        hold.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("score", F.lit(float(bias))).alias("score"),
        )
        .withColumn("keep", F.col("score") > 0)
    )
    cm = holdout_confusion(scored_all, hold, "doc_id", "y")
    weights = {r["bucket"]: r["w"] for r in w.collect()}
    top = set(sorted(weights, key=weights.get, reverse=True)[:_CLF_TOP])

    def bucket(tok: str) -> int:
        return int(hashlib.md5(f"dsir|{tok}".encode()).hexdigest()[:8], 16) % 4096

    planted_top = all(bucket(t) in top for t in _CLF_PLANT_TOKENS)
    n_train, n_hold = train.count(), hold.count()
    feats.unpersist()
    return spark.createDataFrame(
        [
            (
                n_train,
                n_hold,
                cm["tp"],
                cm["tn"],
                cm["fp"],
                cm["fn"],
                loss_decreased(losses),
                planted_top,
            )
        ],
        "n_train bigint, n_holdout bigint, tp bigint, tn bigint, "
        "fp bigint, fn bigint, loss_ok boolean, planted_top boolean",
    )
