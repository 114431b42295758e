"""Relational operator surface: joins, aggregations, windows, set ops,
sorts/limits, scalar functions (SURVEY.md §2 Part B).

The reference has none of these (its only join-shaped structure is the
``_parentid`` denormalization it *produces*, Porter.php:245-268); they
exist because a complete engine needs them and the harness checks them
against DuckDB oracles.

Scale notes, applied throughout:
- genuinely-small dimensions (region: 5 rows, nation: 25, supplier)
  are broadcast explicitly (`F.broadcast`) — no shuffle for the dim side
  at any scale factor;
- fact-fact joins (orders↔lineitem) are left to Catalyst/AQE: at 100 TB
  they become sort-merge joins on the shuffled key, with AQE skew
  splitting enabled in the session;
- every aggregate is algebraic (partial map-side combine happens for
  free); no `collect()`-and-loop anywhere;
- floating aggregates go through exact DECIMAL accumulation (see
  functions/scalar.py) so results are partition-order independent —
  required for a deterministic engine, and what makes the DuckDB
  oracle hash-match bit-exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from mongo2mysql_spark.functions.scalar import davg, dmul, dsum, sql_davg, sql_dsum
from mongo2mysql_spark.operators.histjoin import hist_join_estimate_sql
from mongo2mysql_spark.operators.joinorder import (
    chain_join_plan_sql,
    graph_join_plan_sql,
    snowflake_join_plan_sql,
    star_join_plan_sql,
)
from mongo2mysql_spark.queries import register
from mongo2mysql_spark.sources import load_table as T


def Tf(spark, sf_dir, name):
    """Fan-out fact scan (sources/parquet.fan_out): a no-op whenever the
    scan supplies >= core-count partitions (always at real scale); when a
    local single-row-group file would pin the whole pre-shuffle pipeline
    to one task, it round-robins the rows across the cores first."""
    return T(spark, sf_dir, name, fanout=True)

# ---------------------------------------------------------------- aggregation


@register(
    "q1_pricing_summary",
    f"""
    SELECT l_returnflag, l_linestatus,
           {sql_dsum('l_quantity')} AS sum_qty,
           {sql_dsum('l_extendedprice')} AS sum_base_price,
           {sql_dsum('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
           {sql_dsum('(l_extendedprice * (1 - l_discount)) * (1 + l_tax)')} AS sum_charge,
           {sql_davg('l_quantity')} AS avg_qty,
           {sql_davg('l_extendedprice')} AS avg_price,
           {sql_davg('l_discount')} AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    UNION ALL
    SELECT '__q6' AS l_returnflag, '' AS l_linestatus,
           CAST(NULL AS DOUBLE) AS sum_qty,
           CAST(NULL AS DOUBLE) AS sum_base_price,
           {sql_dsum('l_extendedprice * l_discount')} AS sum_disc_price,
           CAST(NULL AS DOUBLE) AS sum_charge,
           CAST(NULL AS DOUBLE) AS avg_qty,
           CAST(NULL AS DOUBLE) AS avg_price,
           CAST(NULL AS DOUBLE) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
    doc=(
        "TPC-H Q1 shape (scan-filter-aggregate, 8 aggregates over 2 group "
        "keys) plus a tagged '__q6' row carrying TPC-H Q6's global "
        "forecast-revenue aggregate (revenue -> sum_disc_price, item count "
        "-> count_order) — selective-filter + no-group-key aggregation "
        "verified in the same result."
    ),
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = Tf(spark, sf_dir, "lineitem")
    disc_price = dmul(F.col("l_extendedprice"), 1 - F.col("l_discount"))
    charge = dmul(disc_price, 1 + F.col("l_tax"))
    q1 = (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(F.col("l_quantity")).alias("sum_qty"),
            dsum(F.col("l_extendedprice")).alias("sum_base_price"),
            dsum(disc_price).alias("sum_disc_price"),
            dsum(charge).alias("sum_charge"),
            davg(F.col("l_quantity")).alias("avg_qty"),
            davg(F.col("l_extendedprice")).alias("avg_price"),
            davg(F.col("l_discount")).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )
    null_d = F.lit(None).cast("double")
    q6 = q6_forecast_revenue(spark, sf_dir).select(
        F.lit("__q6").alias("l_returnflag"),
        F.lit("").alias("l_linestatus"),
        null_d.alias("sum_qty"),
        null_d.alias("sum_base_price"),
        F.col("revenue").alias("sum_disc_price"),
        null_d.alias("sum_charge"),
        null_d.alias("avg_qty"),
        null_d.alias("avg_price"),
        null_d.alias("avg_disc"),
        F.col("n_items").alias("count_order"),
    )
    return q1.unionByName(q6)


# TPC-H Q6 shape — registry slot folded into q1_pricing_summary's tagged
# '__q6' branch (round-3 slot consolidation); still driven directly here.
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = Tf(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.03)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            dsum(dmul(F.col("l_extendedprice"), F.col("l_discount"))).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "agg_stats_by_returnflag",
    """
    SELECT l_returnflag,
           COUNT(*) AS n_rows,
           CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
           CAST(MIN(l_quantity) AS DOUBLE) AS min_qty,
           CAST(MAX(l_quantity) AS DOUBLE) AS max_qty,
           CAST(SUM(l_linenumber) AS BIGINT) AS sum_linenumber,
           CAST(MIN(l_shipdate) AS TIMESTAMP) AS first_ship,
           CAST(MAX(l_shipdate) AS TIMESTAMP) AS last_ship,
           quantile_cont(l_extendedprice, 0.5) AS p50,
           quantile_cont(l_extendedprice, 0.9) AS p90,
           quantile_cont(l_quantity, 0.5) AS med_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc=(
        "count / distinct-count / min / max / integer sum plus exact "
        "percentiles (sort-based linear interpolation — deterministic and "
        "engine-identical) over one group key.  The percentiles are "
        "SERVED by operators/selection.grouped_exact_quantiles — the "
        "grouped histogram-locate-reread plan with NO per-group value "
        "buffer (F.percentile under groupBy collects a hot group into "
        "one task's aggregation buffer; this is bounded by value-domain "
        "granularity per key instead) — bit-identical to the built-in, "
        "so the unchanged quantile_cont oracle hashes the scale path "
        "(the same same-answer-different-path gate the global 'bounds' "
        "percentiles ride).  approx_percentile is covered with a "
        "relative-error verdict by agg_approx_sketches."
    ),
)
def agg_stats_by_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mongo2mysql_spark.operators.selection import grouped_exact_quantiles

    li = Tf(spark, sf_dir, "lineitem")
    base = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
        F.sum(F.col("l_linenumber").cast("long")).alias("sum_linenumber"),
        F.min("l_shipdate").alias("first_ship"),
        F.max("l_shipdate").alias("last_ship"),
    )
    # /256 coarse bucket: shrinks the per-key phase-1 histogram ~256x
    # on the wide price domain; identical quantiles (granularity
    # invariance contract)
    qprice = grouped_exact_quantiles(
        li, ["l_returnflag"], "l_extendedprice", {"p50": 0.5, "p90": 0.9},
        bucket_expr="FLOOR({c} / 256)",
    )
    qqty = grouped_exact_quantiles(
        li, ["l_returnflag"], "l_quantity", {"med_qty": 0.5}
    )
    # LEFT joins: a group whose price/qty values are all NULL has no
    # quantile row; it must survive with NULL percentiles (matching the
    # previous F.percentile behavior), not vanish from the result
    return base.join(qprice, "l_returnflag", "left").join(
        qqty, "l_returnflag", "left"
    )


@register(
    "agg_multilevel_grouping",
    f"""
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus, o_orderpriority) AS INTEGER) AS gid,
           COUNT(*) AS n_orders,
           {sql_dsum('o_totalprice')} AS total_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    UNION ALL
    SELECT '__histogram' AS o_orderstatus,
           CAST(CAST(FLOOR(o_totalprice / 50000) AS BIGINT) AS VARCHAR) AS o_orderpriority,
           -1 AS gid,
           COUNT(*) AS n_orders,
           {sql_dsum('o_totalprice')} AS total_price
    FROM orders
    GROUP BY 2
    HAVING COUNT(*) >= 5
    UNION ALL
    SELECT '__pivot_' || s AS o_orderstatus, o_orderpriority,
           -2 AS gid, n AS n_orders, CAST(NULL AS DOUBLE) AS total_price
    FROM (
      SELECT o_orderpriority,
             COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS status_f,
             COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS status_o,
             COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS status_p
      FROM orders GROUP BY o_orderpriority) w,
    LATERAL (VALUES ('f', w.status_f), ('o', w.status_o), ('p', w.status_p)) AS m(s, n)
    """,
    doc=(
        "multi-level aggregation, three tagged branches in one result: "
        "CUBE = every grouping set (ROLLUP's sets are a subset; all three "
        "surface forms lower to the same Expand operator) with grouping_id "
        "disambiguating NULL group keys from NULL data (gid >= 0); numeric "
        "bucketization + histogram with a post-aggregation HAVING filter "
        "(gid = -1, bucket carried as the priority column); pivot (wide "
        "conditional aggregation with an explicit value list) melted back "
        "through unpivot/stack (gid = -2) — the pivot runs wide, the "
        "unpivot restores long form for the union."
    ),
)
def agg_multilevel_grouping(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = Tf(spark, sf_dir, "orders")
    cube = o.cube("o_orderstatus", "o_orderpriority").agg(
        F.grouping_id().alias("gid"),
        F.count(F.lit(1)).alias("n_orders"),
        dsum(F.col("o_totalprice")).alias("total_price"),
    )
    hist = agg_histogram_price_buckets(spark, sf_dir).select(
        F.lit("__histogram").alias("o_orderstatus"),
        F.col("bucket").cast("string").alias("o_orderpriority"),
        F.lit(-1).alias("gid"),
        "n_orders",
        F.col("bucket_total").alias("total_price"),
    )
    pivot = (
        pivot_priority_by_status(spark, sf_dir)
        .unpivot(
            "o_orderpriority",
            ["status_f", "status_o", "status_p"],
            "status",
            "n_orders",
        )
        .select(
            F.concat(
                F.lit("__pivot_"), F.substring(F.col("status"), 8, 1)
            ).alias("o_orderstatus"),
            "o_orderpriority",
            F.lit(-2).alias("gid"),
            "n_orders",
            F.lit(None).cast("double").alias("total_price"),
        )
    )
    return cube.unionByName(hist).unionByName(pivot)


# Pivot — registry slot folded into agg_multilevel_grouping's '__pivot_*'
# branch (round-3 slot consolidation); still driven directly here and by
# the merged query (the wide conditional agg executes before the unpivot).
def pivot_priority_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = Tf(spark, sf_dir, "orders")
    p = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
    )
    return p.select(
        "o_orderpriority",
        F.coalesce(F.col("F"), F.lit(0)).alias("status_f"),
        F.coalesce(F.col("O"), F.lit(0)).alias("status_o"),
        F.coalesce(F.col("P"), F.lit(0)).alias("status_p"),
    )


# Histogram + HAVING — registry slot folded into agg_multilevel_grouping's
# '__histogram' branch (round-3 slot consolidation); still driven directly.
def agg_histogram_price_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = Tf(spark, sf_dir, "orders")
    return (
        o.withColumn("bucket", F.floor(F.col("o_totalprice") / 50000).cast("long"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice")).alias("bucket_total"),
        )
        .filter(F.col("n_orders") >= 5)
    )


_KMV_K = 256
_KMV_PIVOT = "1995-06-17 00:00:00"
_KMV_SPACE = "CAST(281474976710656 AS DOUBLE)"  # 2^48, exact

# histogram join-size branch (operators/histjoin.py)
_HJ_BUCKETS = 16
_KMV_NULLS = """CAST(NULL AS VARCHAR) AS setop,
           CAST(NULL AS DOUBLE) AS kmv_est,
           CAST(NULL AS BIGINT) AS kmv_cnt,
           CAST(NULL AS BIGINT) AS kmv_theta,
           CAST(NULL AS BIGINT) AS kmv_exact,
           CAST(NULL AS BOOLEAN) AS kmv_in_tol,
           CAST(NULL AS BIGINT) AS kmv_sumprod"""
# join-size estimate tolerance: measured 1-13% error across the three
# gate SFs (sampled sum-of-products has wider variance than plain
# distinct counts); 0.35 keeps real teeth while absorbing the band
_JE_TOL = 0.35

_BOUNDS_NULLS = """CAST(NULL AS BIGINT) AS exact_orders,
           CAST(NULL AS BIGINT) AS exact_parts,
           CAST(NULL AS DOUBLE) AS exact_p50,
           CAST(NULL AS DOUBLE) AS exact_p90,
           CAST(NULL AS BOOLEAN) AS within_tol_orders,
           CAST(NULL AS BOOLEAN) AS within_tol_parts,
           CAST(NULL AS BOOLEAN) AS within_tol_p50,
           CAST(NULL AS BOOLEAN) AS within_tol_p90,
           CAST(NULL AS BOOLEAN) AS within_tol_merged"""


def _kmv_est_sql() -> str:
    return (
        f"CASE WHEN cnt < {_KMV_K} THEN CAST(cnt AS DOUBLE) "
        f"ELSE (CAST({_KMV_K - 1} AS DOUBLE) * {_KMV_SPACE}) "
        f"/ CAST(theta AS DOUBLE) END"
    )


@register(
    "agg_approx_sketches",
    f"""
    WITH kmvkeys AS MATERIALIZED (
      SELECT CAST('0x' || substr(md5('kmv|' || CAST(l_orderkey AS VARCHAR)),
                  1, 12) AS BIGINT) AS h,
             max(CASE WHEN l_shipdate < TIMESTAMP '{_KMV_PIVOT}'
                 THEN 1 ELSE 0 END) AS in_a,
             max(CASE WHEN l_shipdate >= TIMESTAMP '{_KMV_PIVOT}'
                 THEN 1 ELSE 0 END) AS in_b
      FROM lineitem GROUP BY 1),
    kmvska AS MATERIALIZED (
      SELECT h FROM kmvkeys WHERE in_a = 1 ORDER BY h LIMIT {_KMV_K}),
    kmvskb AS MATERIALIZED (
      SELECT h FROM kmvkeys WHERE in_b = 1 ORDER BY h LIMIT {_KMV_K}),
    kmvsku AS MATERIALIZED (
      SELECT h FROM (SELECT DISTINCT h FROM
        (SELECT h FROM kmvska UNION ALL SELECT h FROM kmvskb))
      ORDER BY h LIMIT {_KMV_K}),
    kmvth AS (
      SELECT least((SELECT max(h) FROM kmvska),
                   (SELECT max(h) FROM kmvskb)) AS theta),
    kmvex AS (
      SELECT CAST(sum(in_a) AS BIGINT) AS ea,
             CAST(sum(in_b) AS BIGINT) AS eb,
             CAST(count(*) AS BIGINT) AS eu,
             CAST(sum(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS ei
      FROM kmvkeys),
    kmvrows AS (
      SELECT 'a' AS setop, cnt, theta, {_kmv_est_sql()} AS est,
             (SELECT ea FROM kmvex) AS ex
      FROM (SELECT count(*) AS cnt, max(h) AS theta FROM kmvska)
      UNION ALL
      SELECT 'b', cnt, theta, {_kmv_est_sql()},
             (SELECT eb FROM kmvex)
      FROM (SELECT count(*) AS cnt, max(h) AS theta FROM kmvskb)
      UNION ALL
      SELECT 'union', cnt, theta, {_kmv_est_sql()},
             (SELECT eu FROM kmvex)
      FROM (SELECT count(*) AS cnt, max(h) AS theta FROM kmvsku)
      UNION ALL
      SELECT 'intersect', cnt, theta,
             CAST(cnt AS DOUBLE) * {_KMV_SPACE} / CAST(theta AS DOUBLE),
             (SELECT ei FROM kmvex)
      FROM (SELECT count(*) AS cnt, (SELECT theta FROM kmvth) AS theta
            FROM kmvska a JOIN kmvskb b USING (h)
            WHERE h < (SELECT theta FROM kmvth))),
    jska AS MATERIALIZED (
      SELECT h, cnt FROM (
        SELECT CAST('0x' || substr(md5('kmv|' || CAST(o_custkey AS VARCHAR)),
                    1, 12) AS BIGINT) AS h,
               count(*) AS cnt
        FROM orders WHERE o_custkey IS NOT NULL GROUP BY 1)
      ORDER BY h LIMIT {_KMV_K}),
    jskb AS MATERIALIZED (
      SELECT h, cnt FROM (
        SELECT CAST('0x' || substr(md5('kmv|' || CAST(c_custkey AS VARCHAR)),
                    1, 12) AS BIGINT) AS h,
               count(*) AS cnt
        FROM customer WHERE c_custkey IS NOT NULL GROUP BY 1)
      ORDER BY h LIMIT {_KMV_K}),
    jth AS (
      SELECT least((SELECT max(h) FROM jska),
                   (SELECT max(h) FROM jskb)) AS th),
    jexact AS (
      SELECT CAST(count(*) AS BIGINT) AS ex
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
    {hist_join_estimate_sql("orders", "o_custkey",
                            "customer", "c_custkey", _HJ_BUCKETS)},
    {chain_join_plan_sql(
        [("customer", "c"), ("orders", "o"), ("lineitem", "l"),
         ("part", "p")],
        [("c_custkey", "o_custkey"), ("o_orderkey", "l_orderkey"),
         ("l_partkey", "p_partkey")],
        _HJ_BUCKETS,
    )},
    {star_join_plan_sql(
        ("lineitem", "l"),
        [("part", "p", "l_partkey", "p_partkey"),
         ("supplier", "s", "l_suppkey", "s_suppkey"),
         ("orders", "o", "l_orderkey", "o_orderkey")],
        _HJ_BUCKETS,
    )},
    {snowflake_join_plan_sql(
        ("lineitem", "l"),
        [[("orders", "o", "l_orderkey", "o_orderkey"),
          ("customer", "c", "o_custkey", "c_custkey")],
         [("supplier", "s", "l_suppkey", "s_suppkey"),
          ("nation", "n", "s_nationkey", "n_nationkey")],
         [("part", "p", "l_partkey", "p_partkey")]],
        _HJ_BUCKETS,
    )},
    {graph_join_plan_sql(
        [("customer", "c"), ("orders", "o"), ("lineitem", "l"),
         ("supplier", "s"), ("nation", "n"), ("region", "r")],
        [(0, 1, "c_custkey", "o_custkey"),
         (1, 2, "o_orderkey", "l_orderkey"),
         (2, 3, "l_suppkey", "s_suppkey"),
         (0, 4, "c_nationkey", "n_nationkey"),
         (3, 4, "s_nationkey", "n_nationkey"),
         (4, 5, "n_regionkey", "r_regionkey")],
        _HJ_BUCKETS,
    )}
    SELECT 'bounds' AS branch,
           CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
           quantile_cont(l_extendedprice, 0.5) AS exact_p50,
           quantile_cont(l_extendedprice, 0.9) AS exact_p90,
           TRUE AS within_tol_orders,
           TRUE AS within_tol_parts,
           TRUE AS within_tol_p50,
           TRUE AS within_tol_p90,
           TRUE AS within_tol_merged,
           {_KMV_NULLS}
    FROM lineitem
    UNION ALL
    SELECT 'kmv' AS branch,
           {_BOUNDS_NULLS},
           setop, est AS kmv_est, cnt AS kmv_cnt, theta AS kmv_theta,
           ex AS kmv_exact, TRUE AS kmv_in_tol,
           CAST(NULL AS BIGINT) AS kmv_sumprod
    FROM kmvrows
    UNION ALL
    SELECT 'joinest' AS branch,
           {_BOUNDS_NULLS},
           'join' AS setop,
           CAST(sp AS DOUBLE) * {_KMV_SPACE} / CAST(th AS DOUBLE) AS kmv_est,
           common AS kmv_cnt, th AS kmv_theta,
           (SELECT ex FROM jexact) AS kmv_exact,
           TRUE AS kmv_in_tol,
           sp AS kmv_sumprod
    FROM (
      SELECT CAST(count(*) AS BIGINT) AS common,
             CAST(COALESCE(SUM(a.cnt * b.cnt), 0) AS BIGINT) AS sp,
             (SELECT th FROM jth) AS th
      FROM jska a JOIN jskb b USING (h)
      WHERE h < (SELECT th FROM jth))
    UNION ALL
    SELECT 'histjoinest' AS branch,
           {_BOUNDS_NULLS},
           CASE WHEN bucket = -1 THEN 'htotal'
                ELSE 'hbucket' || CAST(bucket AS VARCHAR) END AS setop,
           est AS kmv_est,
           n_a AS kmv_cnt,
           d_a AS kmv_theta,
           CASE WHEN bucket = -1 THEN exact ELSE d_b END AS kmv_exact,
           CASE WHEN bucket = -1 THEN TRUE END AS kmv_in_tol,
           n_b AS kmv_sumprod
    FROM hjout
    UNION ALL
    SELECT 'histstats' AS branch,
           {_BOUNDS_NULLS},
           CASE WHEN bucket = -1 THEN 'stotal'
                ELSE 'sbucket' || CAST(bucket AS VARCHAR) END AS setop,
           est AS kmv_est,
           n_a AS kmv_cnt,
           d_a AS kmv_theta,
           d_b AS kmv_exact,
           CAST(NULL AS BOOLEAN) AS kmv_in_tol,
           n_b AS kmv_sumprod
    FROM hjout
    UNION ALL
    SELECT 'joinorder' AS branch,
           {_BOUNDS_NULLS},
           plan AS setop,
           CAST(est_rows AS DOUBLE) AS kmv_est,
           best_cost AS kmv_cnt,
           CAST(n_tables AS BIGINT) AS kmv_theta,
           CAST(NULL AS BIGINT) AS kmv_exact,
           CAST(NULL AS BOOLEAN) AS kmv_in_tol,
           CAST(NULL AS BIGINT) AS kmv_sumprod
    FROM joplan
    UNION ALL
    SELECT 'starorder' AS branch,
           {_BOUNDS_NULLS},
           plan AS setop,
           CAST(est_rows AS DOUBLE) AS kmv_est,
           best_cost AS kmv_cnt,
           CAST(n_tables AS BIGINT) AS kmv_theta,
           CAST(NULL AS BIGINT) AS kmv_exact,
           CAST(NULL AS BOOLEAN) AS kmv_in_tol,
           CAST(NULL AS BIGINT) AS kmv_sumprod
    FROM soplan
    UNION ALL
    SELECT 'snowflake' AS branch,
           {_BOUNDS_NULLS},
           plan AS setop,
           CAST(est_rows AS DOUBLE) AS kmv_est,
           best_cost AS kmv_cnt,
           CAST(n_tables AS BIGINT) AS kmv_theta,
           CAST(NULL AS BIGINT) AS kmv_exact,
           CAST(NULL AS BOOLEAN) AS kmv_in_tol,
           CAST(NULL AS BIGINT) AS kmv_sumprod
    FROM snplan
    UNION ALL
    SELECT 'graphorder' AS branch,
           {_BOUNDS_NULLS},
           plan AS setop,
           CAST(est_rows AS DOUBLE) AS kmv_est,
           best_cost AS kmv_cnt,
           CAST(n_tables AS BIGINT) AS kmv_theta,
           CAST(NULL AS BIGINT) AS kmv_exact,
           CAST(NULL AS BOOLEAN) AS kmv_in_tol,
           CAST(NULL AS BIGINT) AS kmv_sumprod
    FROM grplan
    UNION ALL
    SELECT 'joinexec' AS branch,
           {_BOUNDS_NULLS},
           'x' || l_returnflag AS setop,
           {sql_dsum('l_extendedprice')} AS kmv_est,
           CAST(count(*) AS BIGINT) AS kmv_cnt,
           CAST(NULL AS BIGINT) AS kmv_theta,
           CAST(NULL AS BIGINT) AS kmv_exact,
           CAST(NULL AS BOOLEAN) AS kmv_in_tol,
           CAST(NULL AS BIGINT) AS kmv_sumprod
    FROM customer
    JOIN orders ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN part ON p_partkey = l_partkey
    GROUP BY l_returnflag
    UNION ALL
    SELECT 'joinexec' AS branch,
           {_BOUNDS_NULLS},
           'xplan=' || plan AS setop,
           CAST(NULL AS DOUBLE) AS kmv_est,
           CAST(NULL AS BIGINT) AS kmv_cnt,
           CAST(NULL AS BIGINT) AS kmv_theta,
           CAST(NULL AS BIGINT) AS kmv_exact,
           CAST(NULL AS BOOLEAN) AS kmv_in_tol,
           CAST(NULL AS BIGINT) AS kmv_sumprod
    FROM joplan WHERE subset = 'colp'
    UNION ALL
    SELECT 'joinexec' AS branch,
           {_BOUNDS_NULLS},
           'sn:' || n_name AS setop,
           {sql_dsum('l_extendedprice')} AS kmv_est,
           CAST(count(*) AS BIGINT) AS kmv_cnt,
           CAST(NULL AS BIGINT) AS kmv_theta,
           CAST(NULL AS BIGINT) AS kmv_exact,
           CAST(NULL AS BOOLEAN) AS kmv_in_tol,
           CAST(NULL AS BIGINT) AS kmv_sumprod
    FROM lineitem
    JOIN orders ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation ON n_nationkey = s_nationkey
    JOIN part ON p_partkey = l_partkey
    GROUP BY n_name
    UNION ALL
    SELECT 'joinexec' AS branch,
           {_BOUNDS_NULLS},
           'snplan=' || plan AS setop,
           CAST(NULL AS DOUBLE) AS kmv_est,
           CAST(NULL AS BIGINT) AS kmv_cnt,
           CAST(NULL AS BIGINT) AS kmv_theta,
           CAST(NULL AS BIGINT) AS kmv_exact,
           CAST(NULL AS BOOLEAN) AS kmv_in_tol,
           CAST(NULL AS BIGINT) AS kmv_sumprod
    FROM snplan WHERE subset = 'locsnp'
    UNION ALL
    SELECT 'joinexec' AS branch,
           {_BOUNDS_NULLS},
           'g:' || n_name AS setop,
           {sql_dsum('l_extendedprice')} AS kmv_est,
           CAST(count(*) AS BIGINT) AS kmv_cnt,
           CAST(NULL AS BIGINT) AS kmv_theta,
           CAST(NULL AS BIGINT) AS kmv_exact,
           CAST(NULL AS BOOLEAN) AS kmv_in_tol,
           CAST(NULL AS BIGINT) AS kmv_sumprod
    FROM customer
    JOIN orders ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation ON n_nationkey = c_nationkey AND n_nationkey = s_nationkey
    JOIN region ON r_regionkey = n_regionkey
    GROUP BY n_name
    UNION ALL
    SELECT 'joinexec' AS branch,
           {_BOUNDS_NULLS},
           'gplan=' || plan AS setop,
           CAST(NULL AS DOUBLE) AS kmv_est,
           CAST(NULL AS BIGINT) AS kmv_cnt,
           CAST(NULL AS BIGINT) AS kmv_theta,
           CAST(NULL AS BIGINT) AS kmv_exact,
           CAST(NULL AS BOOLEAN) AS kmv_in_tol,
           CAST(NULL AS BIGINT) AS kmv_sumprod
    FROM grplan WHERE subset = 'colsnr'
    """,
    # Sketch ESTIMATES are engine-specific (HLL++/KLL internals), so the
    # raw approx values cannot cross-check against DuckDB.  The oracle
    # instead restates the exact aggregates (genuinely cross-engine) and
    # states the tolerance verdicts as TRUE literals — an ASSERTION the
    # hash compare enforces: the row only matches when every Spark-side
    # sketch landed inside its documented error bound.
    doc=(
        "approximate aggregation sketches — the 100 TB path where exact "
        "distinct/percentile would shuffle every value: approx_count_distinct "
        "(HyperLogLog++) and percentile_approx (KLL-style), each next to its "
        "exact counterpart with a relative-error verdict column (HLL ±5%, "
        "percentile rank error ≤ 1/10000).  Also exercises the MERGEABLE "
        "sketch path (DataSketches hll_sketch_agg per ship-month partition "
        "→ hll_union_agg → estimate): at scale, per-partition sketch "
        "partials persist alongside the data and roll up without ever "
        "rescanning raw rows — the distinct-count analogue of the "
        "hypertable rollup.  'kmv' rows are KMV/theta sketches "
        "(operators/kmv.py — K-minimum-values, Bar-Yossef et al. 2002; "
        "the theta-sketch set algebra of production sketch libraries): "
        "distinct order keys before/after a ship-date pivot sketched as "
        f"the {_KMV_K} smallest portable md5-prefix hashes, then "
        "ESTIMATED |A|, |B|, |A∪B| (mergeable: union built from the two "
        "sketches alone) and |A∩B| (common samples under the joint "
        "threshold — the set operation HLL cannot do).  Every estimate "
        "is integer operands + one IEEE division, so unlike the HLL "
        "verdicts, the estimates THEMSELVES hash against the DuckDB "
        "restatement, alongside exact counterparts and error verdicts.  "
        "'joinest' rows are TUPLE-sketch join-size estimation "
        "(operators/kmv.kmv_tuple_sketch/kmv_join_size_est — the theta-"
        "sketch-with-summaries of production sketch libraries): "
        "|orders ⋈ customer| estimated from two K-row sketches carrying "
        "per-key multiplicities (est = Σ cntA·cntB over common sampled "
        "keys / sample rate) — the query-planner readout (join "
        "reordering, broadcast-vs-shuffle) that needs per-key counts, "
        "which neither HLL nor plain KMV holds; measured 1-13% error "
        f"across the gate SFs, verdict tolerance {_JE_TOL}; the common "
        "count, threshold, integer Σ-products AND the estimate itself "
        "all hash cross-engine.  'histjoinest' rows: HISTOGRAM join-"
        "size estimation (operators/histjoin.py — Selinger per-bucket "
        "n_a·n_b/max(d_a,d_b) on shared integer bucket boundaries), "
        "completing the planner triangle: exact / sketch / histogram.  "
        "'histstats' rows: the SAME per-bucket estimates served from "
        "persisted-ANALYZE artifacts (operators/histjoin."
        "analyze_key_stats -> hist_join_estimate_from_stats): per-table "
        "bucket stats over a shared declared domain, estimate computed "
        "with ZERO table contact; stats-served values hash against the "
        "identical restatement — the same-answer-different-path gate "
        "for the optimizer-statistics state shape.  'joinorder' rows: "
        "Selinger join-order enumeration (operators/joinorder.py, "
        "System-R 1979) over the customer-orders-lineitem-part FK "
        "chain, costed PURELY from the same ANALYZE statistics — per "
        "interval subset the cardinality (canonical right-extension "
        "recurrence over the scaled-integer bucket terms, floors at "
        "identical points on both engines), the C_out cost (DP min "
        "over chain cuts, smallest-cut tiebreak), and the chosen "
        "split, all hashed against an unrolled interval-lattice "
        "restatement — the statistics readouts' CONSUMER: the planner "
        "decision itself is machine-proven engine-identical.  "
        "'starorder' rows: the star-schema form (lineitem fact x "
        "part/supplier/orders dims — the warehouse shape where "
        "left-deep enumeration is COMPLETE because dims connect only "
        "through the fact): the full dim-subset lattice's estimates, "
        "C_out costs, and peel order hash likewise; the chosen order "
        "surfaces most-selective-dimension-first "
        "(zero table contact at estimation time — the ANALYZE-stats "
        "path).  'snowflake' rows (r12): the COMPOSITION of the two "
        "DPs over the real TPC-H snowflake topology (lineitem fact, "
        "arms orders<-customer and supplier<-nation, part dim — "
        "operators/joinorder.snowflake_join_plan; DPccp, Moerkotte & "
        "Neumann VLDB 2006, specialized to snowflake connectivity "
        "where arm-internal and arm-order choices separate): per arm "
        "the internal chain-DP intervals, the fact-rooted x10^6-"
        "scaled prefix estimates, and the arm-peel star lattice whose "
        "costs carry each arm's internal C_out exactly once — all "
        "hashed against the unrolled restatement, and the whole form "
        "degenerates bit-exactly to 'starorder' on single-table arms "
        "(tests/test_snowflake.py).  "
        "'graphorder' rows (r12): the GENERAL-graph DP the other three "
        "specialize (operators/joinorder.graph_join_plan — DPsub "
        "enumeration of DPccp's csg-cmp pairs; both split sides "
        "induced-connected, at least one crossing edge, smallest-left-"
        "mask tiebreak) over the TRUE q5 topology: customer and "
        "supplier BOTH join nation, closing the c-o-l-s-n 5-cycle the "
        "snowflake form must drop, plus the nation-region tail.  "
        "Cardinalities come from the canonical max-vertex fold (each "
        "cycle-closing edge one more scaled-integer floor division), "
        "bit-exactly degenerate to the chain DP (est, cost, splits) "
        "and star DP (est, cost) — tests/test_graphorder.py; all 27 "
        "connected subsets hash against the mask-unrolled "
        "restatement.  "
        "'joinexec' rows (r12): the EXECUTOR — operators/"
        "joinexec.py builds the 4-way chain join in the 'joinorder' "
        "rows' chosen split structure (same statistics pass, so the "
        "executed order is literally the hashed decision) with every "
        "broadcast hint derived from the DP's row estimates instead "
        "of file sizes; the grouped exact-decimal revenue answer "
        "hashes against a plain-SQL restatement and the 'xplan=' row "
        "re-states the decision it was served through; 'sn:' rows are "
        "the SNOWFLAKE executor on the same slot fixture — the "
        "q5-shaped 6-table join served through the composed DP's "
        "structure (arms built as their own subtrees, estimate-fit "
        "arms broadcast as one unit), revenue-by-nation hashed with "
        "an 'snplan=' decision row; 'g:' rows are the GENERAL-graph "
        "executor on the cyclic fixture — every edge crossing a "
        "chosen split applied as one join conjunct, so the cycle edge "
        "lands exactly where the DP costed it instead of as a "
        "post-join filter (revenue-by-nation where customer and "
        "supplier share the nation, hashed vs a two-condition plain-"
        "SQL restatement, 'gplan=' decision row) — join-tree "
        "structure and build-side broadcasts are plan-asserted in "
        "tests/test_joinexec.py and tests/test_graphorder.py.  "
        "Per-bucket terms are scaled-integer floor divisions "
        "and the total is an ORDER-FREE integer sum, so all 16 bucket "
        "rows AND the total estimate hash; on this PK-FK join the "
        "formula is near-exact and the total row states a "
        "max(10, 2%) verdict."
    ),
)
def agg_approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mongo2mysql_spark.queries import tagged_union

    li = Tf(spark, sf_dir, "lineitem")
    # mergeable partials: one HLL sketch per ship-month, merged with
    # hll_union_agg — numerically identical to sketching the whole
    # column at once (the mergeability test asserts exact equality)
    merged = (
        li.groupBy(F.date_trunc("month", "l_shipdate").alias("__m"))
        .agg(F.hll_sketch_agg("l_orderkey").alias("__sk"))
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("__sk")).alias(
                "approx_orders_merged"
            )
        )
    )
    # SPLIT aggregations, not one 8-function agg: mixing two exact
    # DISTINCTs with percentile/HLL buffers in a single Aggregate made
    # Catalyst plan an Expand (every row replicated per distinct group)
    # and carry the sketch buffers through it — measured 38 s at sf0.1
    # vs ≤4 s for every piece below in isolation (~10× blowup, and the
    # Expand triples the scan at 100 TB).  Four independent two-phase
    # aggregates produce bit-identical values; the 1-row results
    # broadcast-join back together.
    apx = li.agg(
        F.approx_count_distinct("l_orderkey", rsd=0.01).alias("approx_orders"),
        F.approx_count_distinct("l_partkey", rsd=0.01).alias("approx_parts"),
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("approx_p50"),
        F.percentile_approx("l_extendedprice", 0.9, 10000).alias("approx_p90"),
    )
    eo = li.agg(F.countDistinct("l_orderkey").alias("exact_orders"))
    ep = li.agg(F.countDistinct("l_partkey").alias("exact_parts"))
    # exact percentiles via two-phase histogram rank selection
    # (operators/selection.py) instead of F.percentile's single-task
    # value buffer — bit-identical to the built-in aggregate (pinned by
    # test_selection), so the oracle's quantile_cont still hashes it,
    # and the hash now gates the SCALE path (the same same-answer-
    # different-path contract the IVF store and ppjoin slots use)
    from mongo2mysql_spark.operators.selection import exact_quantiles

    # ---- shared table handles + planner fixtures, hoisted so every
    # eager build action in this slot (quantile collect, KMV sketch
    # checkpoints, domain agg, and the four planners' ANALYZE passes)
    # can run overlapped from one thread pool (guide §2.6) instead of
    # as ~20 serial driver barriers.  The values are identical — the
    # pool only changes job submission order.
    from mongo2mysql_spark.operators.histjoin import analyze_key_stats
    from mongo2mysql_spark.operators.joinorder import (
        _edge_est6,
        chain_join_plan,
        chain_join_stats,
        chain_plan_dp,
        snowflake_join_stats,
        star_join_stats,
    )
    from mongo2mysql_spark.operators.kmv import (
        kmv_hash,
        kmv_intersect_est,
        kmv_join_size_est,
        kmv_stats,
        kmv_tuple_sketch,
        kmv_union,
    )
    from mongo2mysql_spark.queries import parallel_branches

    o = T(spark, sf_dir, "orders")
    cust = T(spark, sf_dir, "customer")
    part = T(spark, sf_dir, "part")
    supp = T(spark, sf_dir, "supplier")
    nation = T(spark, sf_dir, "nation")
    region = T(spark, sf_dir, "region")

    # edge-statistics memo shared by the chain/star/snowflake/graph
    # planners and the executors: est6 is symmetric in its sides, and
    # the fixtures overlap on (o,l), (l,p), (l,s), (c,o) — the edge
    # computations collapse to one per distinct edge (each = a domain
    # agg + two bounded ANALYZE collects).  Per-key locks make the
    # memos safe under the threaded gatherers (first caller computes,
    # overlapping callers wait — still one job per edge/table).
    import threading as _th

    _memo_guard = _th.Lock()
    _key_locks: dict = {}

    def _locked(memo: dict, key, compute):
        if key in memo:
            return memo[key]
        with _memo_guard:
            lk = _key_locks.setdefault(("k", id(memo), key), _th.Lock())
        with lk:
            if key not in memo:
                memo[key] = compute()
        return memo[key]

    _ememo: dict = {}

    def eest(a, ka, b, kb, nb):
        key = (frozenset(((id(a), ka), (id(b), kb))), nb)
        return _locked(_ememo, key, lambda: _edge_est6(a, ka, b, kb, nb))

    # row-count memo beside the edge memo: the planners share tables
    # (lineitem counted 3x, orders and customer 2x each without it) —
    # one count job per distinct table
    _cmemo: dict = {}

    def ccount(name, df):
        return _locked(_cmemo, name, df.count)

    chain_tables = [("c", cust), ("o", o), ("l", li), ("p", part)]
    chain_edges = [("c_custkey", "o_custkey"), ("o_orderkey", "l_orderkey"),
                   ("l_partkey", "p_partkey")]
    star_dims = [("p", part, "l_partkey", "p_partkey"),
                 ("s", supp, "l_suppkey", "s_suppkey"),
                 ("o", o, "l_orderkey", "o_orderkey")]
    snchains = [
        [("o", o, "l_orderkey", "o_orderkey"),
         ("c", cust, "o_custkey", "c_custkey")],
        [("s", supp, "l_suppkey", "s_suppkey"),
         ("n", nation, "s_nationkey", "n_nationkey")],
        [("p", part, "l_partkey", "p_partkey")],
    ]

    pivot = F.lit(_KMV_PIVOT.split(" ")[0]).cast("timestamp")

    def _kmv3():
        keys = (
            li.select(
                kmv_hash(F.col("l_orderkey")).alias("h"),
                (F.col("l_shipdate") < pivot).cast("int").alias("in_a"),
                (F.col("l_shipdate") >= pivot).cast("int").alias("in_b"),
            )
            .groupBy("h")
            .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
            .localCheckpoint()
        )
        ska = (
            keys.filter(F.col("in_a") == 1).select("h").orderBy("h")
            .limit(_KMV_K)
        ).localCheckpoint()
        skb = (
            keys.filter(F.col("in_b") == 1).select("h").orderBy("h")
            .limit(_KMV_K)
        ).localCheckpoint()
        return keys, ska, skb

    _eg = parallel_branches(
        {
            # /256 coarse bucket: ~256x smaller phase-1 collect on the
            # ~1e5-distinct-FLOOR price column, identical quantiles
            # (granularity invariance is the kernel's contract)
            "pct": lambda: exact_quantiles(
                li, "l_extendedprice",
                {"exact_p50": 0.5, "exact_p90": 0.9},
                bucket_expr="FLOOR({c} / 256)",
            ),
            "kmv3": _kmv3,
            "tsk": lambda: (
                kmv_tuple_sketch(o, "o_custkey", _KMV_K).localCheckpoint(),
                kmv_tuple_sketch(cust, "c_custkey", _KMV_K).localCheckpoint(),
            ),
            "dom": lambda: (
                o.select(F.col("o_custkey").cast("long").alias("k"))
                .unionByName(
                    cust.select(F.col("c_custkey").cast("long").alias("k"))
                )
                .agg(F.min("k").alias("lo"), F.max("k").alias("hi"))
                .first()
            ),
            "cstats": lambda: chain_join_stats(
                chain_tables, chain_edges, _HJ_BUCKETS,
                edge_est6=eest, count_fn=ccount,
            ),
            "sstats": lambda: star_join_stats(
                ("l", li), star_dims, _HJ_BUCKETS,
                edge_est6=eest, count_fn=ccount,
            ),
            "snstats": lambda: snowflake_join_stats(
                ("l", li), snchains, _HJ_BUCKETS,
                edge_est6=eest, count_fn=ccount,
            ),
            # the two graph-only edges + the region count, so the
            # graph section below is a pure memo read
            "gextra": lambda: (
                eest(cust, "c_nationkey", nation, "n_nationkey",
                     _HJ_BUCKETS),
                eest(nation, "n_regionkey", region, "r_regionkey",
                     _HJ_BUCKETS),
                ccount("r", region),
            ),
        }
    )
    pct = _eg["pct"]
    agg = (
        apx.crossJoin(F.broadcast(eo))
        .crossJoin(F.broadcast(ep))
        .crossJoin(F.broadcast(pct))
    )
    rel = lambda a, e: F.abs(F.col(a) - F.col(e)) / F.col(e)  # noqa: E731
    bounds = agg.crossJoin(F.broadcast(merged)).select(
        "exact_orders",
        "exact_parts",
        "exact_p50",
        "exact_p90",
        (rel("approx_orders", "exact_orders") <= 0.05).alias("within_tol_orders"),
        (rel("approx_parts", "exact_parts") <= 0.05).alias("within_tol_parts"),
        (rel("approx_p50", "exact_p50") <= 0.01).alias("within_tol_p50"),
        (rel("approx_p90", "exact_p90") <= 0.01).alias("within_tol_p90"),
        (rel("approx_orders_merged", "exact_orders") <= 0.05).alias(
            "within_tol_merged"
        ),
    )
    # KMV branch: sketch ESTIMATES are portable integers + one IEEE
    # division, so unlike the HLL/KLL verdicts above, est/cnt/theta are
    # THEMSELVES hashed against the DuckDB restatement
    keys, ska, skb = _eg["kmv3"]
    exacts = keys.agg(
        F.sum("in_a").alias("ea"),
        F.sum("in_b").alias("eb"),
        F.count(F.lit(1)).alias("eu"),
        F.sum(
            F.when((F.col("in_a") == 1) & (F.col("in_b") == 1), 1).otherwise(0)
        ).alias("ei"),
    )

    def kmv_row(setop: str, stats: DataFrame, exact_col: str, tol: float):
        return stats.crossJoin(F.broadcast(exacts)).select(
            F.lit(setop).alias("setop"),
            F.col("est").alias("kmv_est"),
            F.col(stats.columns[0]).cast("long").alias("kmv_cnt"),
            F.col("theta").alias("kmv_theta"),
            F.col(exact_col).cast("long").alias("kmv_exact"),
            (
                F.abs(F.col("est") - F.col(exact_col))
                / F.col(exact_col).cast("double")
                <= tol
            ).alias("kmv_in_tol"),
        )

    kmv = (
        kmv_row("a", kmv_stats(ska, _KMV_K), "ea", 0.2)
        .unionByName(kmv_row("b", kmv_stats(skb, _KMV_K), "eb", 0.2))
        .unionByName(
            kmv_row("union", kmv_stats(kmv_union(ska, skb, _KMV_K), _KMV_K), "eu", 0.2)
        )
        .unionByName(kmv_row("intersect", kmv_intersect_est(ska, skb), "ei", 0.35))
    )
    # tuple-sketch join-size estimate (operators/kmv.kmv_join_size_est):
    # the query-planner readout — |orders ⋈ customer| estimated from two
    # K-row sketches carrying per-key multiplicities, never touching the
    # join itself; the exact count rides along for the verdict
    je = kmv_join_size_est(*_eg["tsk"])
    jexact = o.join(cust, o.o_custkey == cust.c_custkey).agg(
        F.count(F.lit(1)).alias("__ex")
    )
    joinest = je.crossJoin(F.broadcast(jexact)).select(
        F.lit("join").alias("setop"),
        F.col("est").alias("kmv_est"),
        F.col("common").cast("long").alias("kmv_cnt"),
        F.col("theta").alias("kmv_theta"),
        F.col("__ex").cast("long").alias("kmv_exact"),
        (
            F.abs(F.col("est") - F.col("__ex"))
            / F.col("__ex").cast("double")
            <= _JE_TOL
        ).alias("kmv_in_tol"),
        F.col("sum_products").alias("kmv_sumprod"),
    )
    # histogram join-size estimate (operators/histjoin.py): the
    # System-R statistics path next to the tuple sketch — per-bucket
    # n*n/max(d,d) terms in scaled-integer arithmetic so even the
    # TOTAL (an order-free integer sum) hashes; the PK-FK case makes
    # the formula near-exact, and the total row states a
    # max(10, 2%) verdict
    from mongo2mysql_spark.operators.histjoin import hist_join_estimate

    # with_exact=True EXPLICITLY: the gate needs the verification
    # column; the API default is the cheap estimate-only path
    hj = hist_join_estimate(o, "o_custkey", cust, "c_custkey",
                            n_buckets=_HJ_BUCKETS, with_exact=True)
    hj_tol = F.greatest(F.lit(10.0), F.col("exact").cast("double") * 0.02)
    histjoinest = hj.select(
        F.when(F.col("bucket") == -1, F.lit("htotal"))
        .otherwise(F.concat(F.lit("hbucket"), F.col("bucket").cast("string")))
        .alias("setop"),
        F.col("est").alias("kmv_est"),
        F.col("n_a").alias("kmv_cnt"),
        F.col("d_a").alias("kmv_theta"),
        F.when(F.col("bucket") == -1, F.col("exact"))
        .otherwise(F.col("d_b"))
        .alias("kmv_exact"),
        F.when(
            F.col("bucket") == -1,
            F.abs(F.col("est") - F.col("exact").cast("double")) <= hj_tol,
        ).alias("kmv_in_tol"),
        F.col("n_b").alias("kmv_sumprod"),
    )
    # 'histstats': the SAME estimate served from ANALYZE artifacts
    # (operators/histjoin.analyze_key_stats -> hist_join_estimate_from_
    # stats) — per-table bucket stats computed independently over the
    # shared declared domain, joined with ZERO table contact at
    # estimation time.  Stats-served values must equal the on-the-fly
    # path bucket-for-bucket, so the unchanged hjout restatement hashes
    # them — the same-answer-different-path gate (cmsstream's pattern,
    # here for the optimizer-statistics state shape).  The parquet
    # persistence roundtrip is proven in tests/test_r11_fixes.py.
    from mongo2mysql_spark.operators.histjoin import (
        hist_join_estimate_from_stats,
    )

    dom = _eg["dom"]
    # empty-domain edge: declared domain [0, 0] still yields empty
    # artifacts, and from_stats serves its zero-filled total row
    d_lo = int(dom["lo"]) if dom["lo"] is not None else 0
    d_hi = int(dom["hi"]) if dom["hi"] is not None else 0
    sa = analyze_key_stats(o, "o_custkey", _HJ_BUCKETS, lo=d_lo, hi=d_hi)
    sb = analyze_key_stats(cust, "c_custkey", _HJ_BUCKETS, lo=d_lo, hi=d_hi)
    # assume_meta: both artifacts are built right here with the same
    # declared domain — skips two eager validation collects that each
    # ran a full stats aggregate at build time just to read metadata
    hs = hist_join_estimate_from_stats(
        sa, sb, assume_meta=(d_lo, d_hi, _HJ_BUCKETS)
    )
    histstats = hs.select(
        F.when(F.col("bucket") == -1, F.lit("stotal"))
        .otherwise(F.concat(F.lit("sbucket"), F.col("bucket").cast("string")))
        .alias("setop"),
        F.col("est").alias("kmv_est"),
        F.col("n_a").alias("kmv_cnt"),
        F.col("d_a").alias("kmv_theta"),
        F.col("d_b").alias("kmv_exact"),
        F.lit(None).cast("boolean").alias("kmv_in_tol"),
        F.col("n_b").alias("kmv_sumprod"),
    )
    # 'joinorder': the Selinger DP over the customer-orders-lineitem-
    # part FK chain, costed purely from the same ANALYZE statistics —
    # the CONSUMER the planner readouts exist for.  Every subset's
    # estimate, C_out cost, and chosen split hash against the unrolled
    # interval-lattice restatement (exact integer recurrence with
    # identical floor points on both engines).
    # ONE statistics pass (pooled above) feeds both the hashed plan
    # rows and the executor below — the executed order IS the hashed
    # decision
    cstats = _eg["cstats"]
    jp = chain_join_plan(
        spark, chain_tables, chain_edges, n_buckets=_HJ_BUCKETS,
        stats=cstats,
    )
    joinorder = jp.select(
        F.col("plan").alias("setop"),
        F.col("est_rows").cast("double").alias("kmv_est"),
        F.col("best_cost").alias("kmv_cnt"),
        F.col("n_tables").cast("long").alias("kmv_theta"),
        F.lit(None).cast("long").alias("kmv_exact"),
        F.lit(None).cast("boolean").alias("kmv_in_tol"),
        F.lit(None).cast("long").alias("kmv_sumprod"),
    )
    # 'starorder': the star-schema DP (lineitem fact × part/supplier/
    # orders dims) — the warehouse shape where left-deep enumeration is
    # COMPLETE (dims connect only through the fact); the chosen order
    # surfaces most-selective-dimension-first, and the whole dim-subset
    # lattice hashes against the unrolled restatement
    from mongo2mysql_spark.operators.joinorder import star_join_plan

    sp = star_join_plan(
        spark, ("l", li), star_dims, n_buckets=_HJ_BUCKETS,
        stats=_eg["sstats"],
    )
    starorder = sp.select(
        F.col("plan").alias("setop"),
        F.col("est_rows").cast("double").alias("kmv_est"),
        F.col("best_cost").alias("kmv_cnt"),
        F.col("n_tables").cast("long").alias("kmv_theta"),
        F.lit(None).cast("long").alias("kmv_exact"),
        F.lit(None).cast("boolean").alias("kmv_in_tol"),
        F.lit(None).cast("long").alias("kmv_sumprod"),
    )
    # 'snowflake' (r12): the composition of the two DPs over the
    # actual TPC-H snowflake topology — lineitem fact with arms
    # orders←customer and supplier←nation plus the part dimension
    # (operators/joinorder.snowflake_join_plan, DPccp specialized to
    # snowflake connectivity): each arm's internal chain DP, the
    # fact-rooted prefix estimates, and the arm-peel star lattice with
    # internal costs all hash against the unrolled restatement
    from mongo2mysql_spark.operators.joinorder import (
        snowflake_join_plan,
        snowflake_plan_dp,
    )

    snstats = _eg["snstats"]
    sndp = snowflake_plan_dp(snstats)
    snp = snowflake_join_plan(
        spark, ("l", li), snchains, n_buckets=_HJ_BUCKETS,
        stats=snstats, dp=sndp,
    )
    snowflake = snp.select(
        F.col("plan").alias("setop"),
        F.col("est_rows").cast("double").alias("kmv_est"),
        F.col("best_cost").alias("kmv_cnt"),
        F.col("n_tables").cast("long").alias("kmv_theta"),
        F.lit(None).cast("long").alias("kmv_exact"),
        F.lit(None).cast("boolean").alias("kmv_in_tol"),
        F.lit(None).cast("long").alias("kmv_sumprod"),
    )
    # 'joinexec': EXECUTE the chain plan the DP chose — the physical
    # consumer (operators/joinexec.py) that closes the loop from
    # statistics to plan to DataFrame: the 4-way join is BUILT in the
    # 'joinorder' rows' chosen split structure (same cstats integers,
    # so the executed order is the hashed decision, not a re-derivation)
    # with broadcast hints derived from the DP's row estimates; the
    # grouped dsum answer hashes against a plain-SQL restatement (same
    # answer by construction — inner joins commute; what the DP buys is
    # the intermediate sizes, probed chosen-vs-worst in COVERAGE.md),
    # and an 'xplan=' row re-states the decision it was served through.
    # Structure + broadcast-side plan assertions: tests/test_joinexec.py.
    from mongo2mysql_spark.functions.scalar import dsum as _dsum
    from mongo2mysql_spark.operators.joinexec import execute_chain_plan

    cest, _ccost, csplit = chain_plan_dp(*cstats)
    executed = execute_chain_plan(chain_tables, chain_edges, cest, csplit)
    xnulls = [
        F.lit(None).cast("long").alias("kmv_theta"),
        F.lit(None).cast("long").alias("kmv_exact"),
        F.lit(None).cast("boolean").alias("kmv_in_tol"),
        F.lit(None).cast("long").alias("kmv_sumprod"),
    ]
    xrows = (
        executed.groupBy("l_returnflag")
        .agg(
            _dsum(F.col("l_extendedprice")).alias("kmv_est"),
            F.count(F.lit(1)).cast("long").alias("kmv_cnt"),
        )
        .select(
            F.concat(F.lit("x"), F.col("l_returnflag")).alias("setop"),
            "kmv_est", "kmv_cnt", *xnulls,
        )
    )
    cnames = [n for n, _ in chain_tables]
    ccut = csplit[(0, len(cnames) - 1)]
    clbl = lambda i, j: "".join(cnames[i : j + 1])  # noqa: E731
    cplan = (
        f"{clbl(0, len(cnames) - 1)}="
        f"{clbl(0, ccut)}+{clbl(ccut + 1, len(cnames) - 1)}"
    )
    xplan = spark.range(1).select(
        F.lit(f"xplan={cplan}").alias("setop"),
        F.lit(None).cast("double").alias("kmv_est"),
        F.lit(None).cast("long").alias("kmv_cnt"),
        *xnulls,
    )
    # ...and the SNOWFLAKE executor (r12): the q5-shaped 6-table join
    # (lineitem with the orders<-customer and supplier<-nation arms +
    # part) served through the composed DP's chosen structure — arms
    # built as their own subtrees in internal-DP order, arms whose
    # ESTIMATED joined cardinality fits broadcast as one unit (the
    # star-transformation plan, derived from statistics); grouped
    # revenue by nation hashes vs a plain-SQL restatement, 'snplan='
    # restates the peel decision it was served through
    from mongo2mysql_spark.operators.joinexec import (
        execute_snowflake_plan,
    )

    executed_sn = execute_snowflake_plan(("l", li), snchains, snstats,
                                         sndp)
    snrows = (
        executed_sn.groupBy("n_name")
        .agg(
            _dsum(F.col("l_extendedprice")).alias("kmv_est"),
            F.count(F.lit(1)).cast("long").alias("kmv_cnt"),
        )
        .select(
            F.concat(F.lit("sn:"), F.col("n_name")).alias("setop"),
            "kmv_est", "kmv_cnt", *xnulls,
        )
    )
    snclabels = ["".join(e[0] for e in ch) for ch in snchains]
    snfull = tuple(range(len(snchains)))
    snd = sndp["peel"][snfull]
    snrest = tuple(i for i in snfull if i != snd)
    snlbl = lambda s: "l" + "".join(snclabels[i] for i in s)  # noqa: E731
    snplan_row = spark.range(1).select(
        F.lit(
            f"snplan={snlbl(snfull)}={snlbl(snrest)}+{snclabels[snd]}"
        ).alias("setop"),
        F.lit(None).cast("double").alias("kmv_est"),
        F.lit(None).cast("long").alias("kmv_cnt"),
        *xnulls,
    )
    # 'graphorder' (r12): the GENERAL-graph DP — the form the chain/
    # star/snowflake planners specialize, over the TRUE q5 topology
    # including the cycle the snowflake fixture must drop: customer
    # and supplier each join nation, closing the c-o-l-s-n 5-cycle,
    # plus the n-r tail (operators/joinorder.graph_join_plan; DPsub
    # enumeration of DPccp's csg-cmp pairs, Moerkotte & Neumann VLDB
    # 2006; C_out).  All 27 connected subsets' estimates, costs, and
    # chosen splits hash against the mask-unrolled restatement; the
    # degeneracy to the chain and star DPs is bit-exact
    # (tests/test_graphorder.py).
    from mongo2mysql_spark.operators.joinorder import (
        _graph_label,
        graph_join_plan,
        graph_plan_dp,
    )

    gtables = [("c", cust), ("o", o), ("l", li), ("s", supp),
               ("n", nation), ("r", region)]
    gedges = [
        (0, 1, "c_custkey", "o_custkey"),
        (1, 2, "o_orderkey", "l_orderkey"),
        (2, 3, "l_suppkey", "s_suppkey"),
        (0, 4, "c_nationkey", "n_nationkey"),
        (3, 4, "s_nationkey", "n_nationkey"),
        (4, 5, "n_regionkey", "r_regionkey"),
    ]
    # rows reuse the counts the chain/snowflake stats already paid;
    # est6 goes through the same edge memo (c-o, o-l, l-s, s-n shared)
    grows = [
        cstats[0][0], cstats[0][1], cstats[0][2],
        snstats["chains"][1]["rows"][0],
        snstats["chains"][1]["rows"][1],
        ccount("r", region),
    ]
    gest6 = [
        eest(gtables[u][1], ku, gtables[v][1], kv, _HJ_BUCKETS)
        for u, v, ku, kv in gedges
    ]
    gepairs = [(u, v) for u, v, _ku, _kv in gedges]
    gdp = graph_plan_dp(grows, gepairs, gest6)
    gp = graph_join_plan(
        spark, gtables, gedges, n_buckets=_HJ_BUCKETS,
        stats=(grows, gest6), dp=gdp,
    )
    graphorder = gp.select(
        F.col("plan").alias("setop"),
        F.col("est_rows").cast("double").alias("kmv_est"),
        F.col("best_cost").alias("kmv_cnt"),
        F.col("n_tables").cast("long").alias("kmv_theta"),
        F.lit(None).cast("long").alias("kmv_exact"),
        F.lit(None).cast("boolean").alias("kmv_in_tol"),
        F.lit(None).cast("long").alias("kmv_sumprod"),
    )
    # ...and the GRAPH executor: the 6-table cyclic join served
    # through the DP's chosen bushy structure, every crossing edge a
    # join conjunct — the cycle edge (customer-nation) lands exactly
    # where the DP costed it instead of as a post-join filter;
    # revenue-by-nation hashes vs a plain-SQL restatement carrying
    # both nation conditions, 'gplan=' restates the chosen split
    from mongo2mysql_spark.operators.joinexec import execute_graph_plan

    gest, _gcost, gsplit = gdp
    executed_g = execute_graph_plan(gtables, gedges, gest, gsplit)
    grows_exec = (
        executed_g.groupBy("n_name")
        .agg(
            _dsum(F.col("l_extendedprice")).alias("kmv_est"),
            F.count(F.lit(1)).cast("long").alias("kmv_cnt"),
        )
        .select(
            F.concat(F.lit("g:"), F.col("n_name")).alias("setop"),
            "kmv_est", "kmv_cnt", *xnulls,
        )
    )
    gnames = [n for n, _ in gtables]
    gfull = (1 << len(gnames)) - 1
    gs1 = gsplit[gfull]
    gplan_row = spark.range(1).select(
        F.lit(
            f"gplan={_graph_label(gfull, gnames)}"
            f"={_graph_label(gs1, gnames)}"
            f"+{_graph_label(gfull ^ gs1, gnames)}"
        ).alias("setop"),
        F.lit(None).cast("double").alias("kmv_est"),
        F.lit(None).cast("long").alias("kmv_cnt"),
        *xnulls,
    )
    joinexec = (
        xrows.unionByName(xplan).unionByName(snrows)
        .unionByName(snplan_row).unionByName(grows_exec)
        .unionByName(gplan_row)
    )
    return tagged_union(
        {
            "bounds": bounds,
            "kmv": kmv,
            "joinest": joinest,
            "histjoinest": histjoinest,
            "histstats": histstats,
            "joinorder": joinorder,
            "starorder": starorder,
            "snowflake": snowflake,
            "graphorder": graphorder,
            "joinexec": joinexec,
        }
    )


# --------------------------------------------------------------------- joins


@register(
    "q3_shipping_priority",
    f"""
    SELECT l_orderkey,
           {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue,
           CAST(o_orderdate AS TIMESTAMP) AS o_orderdate,
           o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
    doc="TPC-H Q3 shape: 3-way join + grouped revenue + deterministic top-10.",
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = T(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = Tf(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = Tf(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(dmul(F.col("l_extendedprice"), 1 - F.col("l_discount"))).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


@register(
    "q5_regional_revenue",
    f"""
    SELECT n_name,
           {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
    FROM region
    JOIN nation   ON n_regionkey = r_regionkey
    JOIN customer ON c_nationkey = n_nationkey
    JOIN orders   ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON s_suppkey = l_suppkey AND s_nationkey = n_nationkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n_name
    """,
    doc="TPC-H Q5 shape: 6-way join; region/nation/supplier broadcast explicitly.",
)
def q5_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = T(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = T(spark, sf_dir, "nation")
    c = T(spark, sf_dir, "customer")
    o = Tf(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = Tf(spark, sf_dir, "lineitem")
    s = T(spark, sf_dir, "supplier")
    return (
        c.join(F.broadcast(n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)),
               F.col("c_nationkey") == F.col("n_nationkey"))
        .join(o, F.col("o_custkey") == F.col("c_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(s),
            (F.col("s_suppkey") == F.col("l_suppkey"))
            & (F.col("s_nationkey") == F.col("n_nationkey")),
        )
        .groupBy("n_name")
        .agg(dsum(dmul(F.col("l_extendedprice"), 1 - F.col("l_discount"))).alias("revenue"))
    )


# TPC-H Q4 shape — registry slot folded into join_semi_anti_existence's
# 'q4' branch (round-3 slot consolidation); still driven directly here.
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = Tf(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    li = Tf(spark, sf_dir, "lineitem")
    return (
        o.join(
            li,
            (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


def join_outer_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 100 == 0)
    cust = T(spark, sf_dir, "customer")
    left = o.join(cust, o.o_custkey == cust.c_custkey, "left").select(
        F.lit("left").alias("side"),
        F.col("o_orderkey").alias("key"),
        F.col("o_custkey").alias("v1"),
        F.lit(None).cast("long").alias("v2"),
        F.col("c_name").alias("label"),
    )
    c = cust.groupBy(F.col("c_nationkey").alias("ck")).agg(
        F.count(F.lit(1)).alias("cn")
    )
    s = T(spark, sf_dir, "supplier").groupBy(F.col("s_nationkey").alias("sk")).agg(
        F.count(F.lit(1)).alias("sn")
    )
    n = T(spark, sf_dir, "nation")
    full = (
        c.join(s, c.ck == s.sk, "full_outer")
        .join(F.broadcast(n), n.n_nationkey == F.coalesce(c.ck, s.sk))
        .select(
            F.lit("full").alias("side"),
            F.col("n_nationkey").cast("long").alias("key"),
            F.col("cn").alias("v1"),
            F.col("sn").alias("v2"),
            F.col("n_name").alias("label"),
        )
    )
    return left.unionByName(full)


@register(
    "join_coverage",
    f"""
    SELECT 'left' AS side, o_orderkey AS key, o_custkey AS v1,
           CAST(NULL AS BIGINT) AS v2, c_name AS label,
           CAST(NULL AS DOUBLE) AS amount
    FROM orders LEFT JOIN customer ON o_custkey = c_custkey
    WHERE o_orderkey % 100 = 0
    UNION ALL
    SELECT 'full' AS side, CAST(n_nationkey AS BIGINT) AS key, cn AS v1,
           sn AS v2, n_name AS label, CAST(NULL AS DOUBLE) AS amount
    FROM (SELECT c_nationkey AS ck, COUNT(*) AS cn FROM customer GROUP BY 1) c
    FULL OUTER JOIN (SELECT s_nationkey AS sk, COUNT(*) AS sn FROM supplier GROUP BY 1) s
      ON c.ck = s.sk
    JOIN nation ON n_nationkey = COALESCE(c.ck, s.sk)
    UNION ALL
    SELECT 'semi' AS side, c_custkey AS key, CAST(NULL AS BIGINT) AS v1,
           CAST(NULL AS BIGINT) AS v2, c_name AS label,
           CAST(NULL AS DOUBLE) AS amount
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
    UNION ALL
    SELECT 'anti' AS side, p_partkey AS key, CAST(NULL AS BIGINT) AS v1,
           CAST(NULL AS BIGINT) AS v2, p_name AS label,
           CAST(NULL AS DOUBLE) AS amount
    FROM part p
    WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey)
    UNION ALL
    SELECT 'q4' AS side, order_count AS key, CAST(NULL AS BIGINT) AS v1,
           CAST(NULL AS BIGINT) AS v2, o_orderpriority AS label,
           CAST(NULL AS DOUBLE) AS amount
    FROM (
      SELECT o_orderpriority, COUNT(*) AS order_count
      FROM orders o
      WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
        AND o_orderdate <  TIMESTAMP '1996-10-01 00:00:00'
        AND EXISTS (SELECT 1 FROM lineitem l
                    WHERE l.l_orderkey = o.o_orderkey
                      AND l.l_shipdate > o.o_orderdate)
      GROUP BY o_orderpriority)
    UNION ALL
    SELECT 'q19' AS side, CAST(COUNT(*) AS BIGINT) AS key,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS v1,
           CAST(NULL AS BIGINT) AS v2, 'q19' AS label,
           {sql_dsum('l_extendedprice * (1 - l_discount)')} AS amount
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 5 AND 25
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 10 AND 40
           AND l_quantity BETWEEN 20 AND 30)
    """,
    doc=(
        "join polarities + existence joins, six branches in one result "
        "tagged by side: left outer (fact rows preserved without a "
        "dimension match), full outer (two aggregates reconciled against "
        "the broadcast dimension), left-semi (EXISTS — customers with "
        "urgent orders), left-anti (NOT EXISTS — parts never ordered), "
        "TPC-H Q4 (correlated inequality EXISTS + grouped count, count "
        "carried as key), and TPC-H Q19 (disjunctive OR-of-ANDs join "
        "predicate mixing both sides — the classic pushdown stressor: "
        "Catalyst must still extract the per-side disjunction so the "
        "part/lineitem scans prefilter before the join; revenue via the "
        "exact-decimal dsum)."
    ),
)
def join_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    outer = join_outer_coverage(spark, sf_dir)
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    nulls = [F.lit(None).cast("long").alias("v1"), F.lit(None).cast("long").alias("v2")]
    namount = F.lit(None).cast("double").alias("amount")
    semi = (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .select(F.lit("semi").alias("side"), F.col("c_custkey").alias("key"),
                *nulls, F.col("c_name").alias("label"), namount)
    )
    p = T(spark, sf_dir, "part")
    li = Tf(spark, sf_dir, "lineitem")
    anti = (
        p.join(li, p.p_partkey == li.l_partkey, "left_anti")
        .select(F.lit("anti").alias("side"), F.col("p_partkey").alias("key"),
                *nulls, F.col("p_name").alias("label"), namount)
    )
    q4 = q4_order_priority(spark, sf_dir).select(
        F.lit("q4").alias("side"),
        F.col("order_count").alias("key"),
        *nulls,
        F.col("o_orderpriority").alias("label"),
        namount,
    )

    def arm(brand: str, size_lo: int, size_hi: int, q_lo: int, q_hi: int):
        return (
            (F.col("p_brand") == brand)
            & F.col("p_size").between(size_lo, size_hi)
            & F.col("l_quantity").between(q_lo, q_hi)
        )

    q19 = (
        li.join(p, li.l_partkey == p.p_partkey)
        .filter(
            arm("Brand#12", 1, 15, 1, 11)
            | arm("Brand#23", 5, 25, 10, 20)
            | arm("Brand#3", 10, 40, 20, 30)
        )
        .agg(
            F.count(F.lit(1)).alias("key"),
            F.countDistinct("l_partkey").alias("v1"),
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "amount"
            ),
        )
        .select(
            F.lit("q19").alias("side"),
            "key",
            "v1",
            F.lit(None).cast("long").alias("v2"),
            F.lit("q19").alias("label"),
            "amount",
        )
    )
    return (
        outer.withColumn("amount", F.lit(None).cast("double"))
        .unionByName(semi)
        .unionByName(anti)
        .unionByName(q4)
        .unionByName(q19)
    )


@register(
    "parent_child_reassembly",
    f"""
    SELECT o_orderkey, o_orderstatus,
           COUNT(*) AS n_items,
           {sql_dsum('l_quantity')} AS sum_qty,
           {sql_dsum('l_extendedprice')} AS sum_price
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    GROUP BY o_orderkey, o_orderstatus
    """,
    doc=(
        "parent↔child reassembly join — the inverse of the reference's array "
        "spill (SURVEY §2 A9): child rows rejoined to their parent via the "
        "denormalized parent key."
    ),
)
def parent_child_reassembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = Tf(spark, sf_dir, "orders")
    li = Tf(spark, sf_dir, "lineitem")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum(F.col("l_quantity")).alias("sum_qty"),
            dsum(F.col("l_extendedprice")).alias("sum_price"),
        )
    )


# ------------------------------------------------------------------- windows


@register(
    "window_functions_orders",
    """
    SELECT o_custkey, o_orderkey,
           CAST(row_number() OVER w AS INTEGER) AS seq,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(30,10)))
                OVER (PARTITION BY o_custkey
                      ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
                AS DOUBLE) AS running_spend,
           CAST(datediff('day',
                lag(CAST(o_orderdate AS DATE)) OVER w,
                CAST(o_orderdate AS DATE)) AS INTEGER) AS days_since_prev,
           lead(o_orderkey) OVER w AS next_orderkey,
           CAST(ntile(4) OVER w AS INTEGER) AS order_quartile,
           CAST(rank()       OVER ws AS INTEGER) AS spend_rank,
           CAST(dense_rank() OVER ws AS INTEGER) AS spend_dense_rank
    FROM orders
    WINDOW w  AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
           ws AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC)
    """,
    doc=(
        "window-function surface in one pass over orders: row_number, running "
        "decimal sum (unbounded-preceding frame), lag + date arithmetic, lead, "
        "ntile, rank, dense_rank — two window specs, one shuffle on o_custkey."
    ),
)
def window_functions_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wf = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    ws = W.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"))
    d = F.col("o_orderdate").cast("date")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.row_number().over(w).alias("seq"),
        F.round(F.sum(F.col("o_totalprice").cast("decimal(30,10)")).over(wf), 4)
        .cast("double")
        .alias("running_spend"),
        F.datediff(d, F.lag(d).over(w)).alias("days_since_prev"),
        F.lead("o_orderkey").over(w).alias("next_orderkey"),
        F.ntile(4).over(w).alias("order_quartile"),
        F.rank().over(ws).alias("spend_rank"),
        F.dense_rank().over(ws).alias("spend_dense_rank"),
    )


from mongo2mysql_spark.operators.basket import association_rules_sql

# basket branch (operators/basket): Apriori pair rules over order
# baskets; thresholds sized so the sf0.01 gate carries a few thousand
# qualifying pairs
_BK_MIN_ITEM, _BK_MIN_PAIR = 5, 2
# z-order layout readout (operators/zorder.py): lineitem keyed by
# (l_partkey, l_suppkey), each range-normalized to 10 bits before
# interleaving; 64 zone-map buckets; the planted 2-D predicate box
# (raw domain) is valid at every gate SF
_ZO_BITS, _ZO_BUCKETS = 10, 64
_ZO_BOX = (20, 150, 2, 7)          # selective in both dimensions
_ZO_BOX1 = (0, 1 << 20, 2, 7)      # second-column-only predicate
from mongo2mysql_spark.operators.zorder import (  # noqa: E402
    sql_hilbert_bucket_stats,
    sql_prune_counts,
    sql_z_bucket_stats,
)

_BASKET_NULLS = """CAST(NULL AS BIGINT) AS item_a,
           CAST(NULL AS BIGINT) AS item_b, CAST(NULL AS BIGINT) AS n_a,
           CAST(NULL AS BIGINT) AS n_b, CAST(NULL AS BIGINT) AS n_ab,
           CAST(NULL AS BIGINT) AS n_baskets,
           CAST(NULL AS DOUBLE) AS conf_a2b,
           CAST(NULL AS DOUBLE) AS conf_b2a,
           CAST(NULL AS DOUBLE) AS lift"""


@register(
    "topk_parts_per_brand",
    f"""
    WITH {association_rules_sql("lineitem", "l_orderkey", "l_partkey",
                                _BK_MIN_ITEM, _BK_MIN_PAIR)},
    {sql_z_bucket_stats("lineitem", ["l_partkey", "l_suppkey"],
                        _ZO_BITS, _ZO_BUCKETS)},
    {sql_hilbert_bucket_stats("lineitem", ["l_partkey", "l_suppkey"],
                              _ZO_BITS, _ZO_BUCKETS)},
    zall AS (SELECT * FROM zbstats UNION ALL SELECT * FROM hbstats),
    {sql_prune_counts("zall", *_ZO_BOX)},
    {sql_prune_counts("zall", *_ZO_BOX1, prefix="zq")}
    SELECT 'topk' AS op, p_brand, p_partkey, p_retailprice,
           {_BASKET_NULLS}
    FROM (SELECT p_brand, p_partkey, p_retailprice,
                 row_number() OVER (PARTITION BY p_brand
                                    ORDER BY p_retailprice DESC, p_partkey) AS rn
          FROM part)
    WHERE rn <= 3
    UNION ALL
    SELECT 'min' AS op, p_brand, p_partkey, p_retailprice,
           {_BASKET_NULLS}
    FROM part p
    WHERE p_retailprice = (SELECT MIN(p2.p_retailprice) FROM part p2
                           WHERE p2.p_brand = p.p_brand)
    UNION ALL
    SELECT 'basket' AS op, CAST(NULL AS VARCHAR) AS p_brand,
           CAST(NULL AS BIGINT) AS p_partkey,
           CAST(NULL AS DOUBLE) AS p_retailprice,
           item_a, item_b, n_a, n_b, n_ab, n_baskets,
           conf_a2b, conf_b2a, lift
    FROM brules
    UNION ALL
    SELECT 'zorder' AS op, layout AS p_brand,
           CAST(bucket AS BIGINT) AS p_partkey,
           CAST(NULL AS DOUBLE) AS p_retailprice,
           min0 AS item_a, max0 AS item_b, min1 AS n_a, max1 AS n_b,
           n AS n_ab, CAST(NULL AS BIGINT) AS n_baskets,
           CAST(NULL AS DOUBLE) AS conf_a2b,
           CAST(NULL AS DOUBLE) AS conf_b2a,
           CAST(NULL AS DOUBLE) AS lift
    FROM zall
    UNION ALL
    SELECT 'zorder' AS op, 'prune:' || layout AS p_brand,
           CAST(NULL AS BIGINT) AS p_partkey,
           CAST(NULL AS DOUBLE) AS p_retailprice,
           CAST(NULL AS BIGINT) AS item_a,
           CAST(NULL AS BIGINT) AS item_b,
           buckets_read AS n_a, CAST(NULL AS BIGINT) AS n_b,
           rows_read AS n_ab, n_buckets AS n_baskets,
           CAST(NULL AS DOUBLE) AS conf_a2b,
           CAST(NULL AS DOUBLE) AS conf_b2a,
           CAST(NULL AS DOUBLE) AS lift
    FROM zpcounts
    UNION ALL
    SELECT 'zorder' AS op, 'prunec1:' || layout AS p_brand,
           CAST(NULL AS BIGINT) AS p_partkey,
           CAST(NULL AS DOUBLE) AS p_retailprice,
           CAST(NULL AS BIGINT) AS item_a,
           CAST(NULL AS BIGINT) AS item_b,
           buckets_read AS n_a, CAST(NULL AS BIGINT) AS n_b,
           rows_read AS n_ab, n_buckets AS n_baskets,
           CAST(NULL AS DOUBLE) AS conf_a2b,
           CAST(NULL AS DOUBLE) AS conf_b2a,
           CAST(NULL AS DOUBLE) AS lift
    FROM zqcounts
    """,
    doc=(
        "per-group extremes, branches tagged by op: top-k per group "
        "(deterministic tiebreak on key) via the salted two-phase operator "
        "— ~25 brands would otherwise mean ~25 reducers sorting the whole "
        "table at scale, results equal the plain window — and the "
        "correlated scalar subquery (cheapest part per brand, all ties).  "
        "'basket' rows: market-basket association rules (operators/basket "
        "— Agrawal & Srikant VLDB 1994 restricted to pairs): DISTINCT "
        "(order, part) baskets, the Apriori prune FIRST (infrequent items "
        "broadcast-filtered before any pair is generated), pair self-join "
        "keyed on the basket (per-basket O(k²) in basket size, no item "
        "hot key), integer support qualification; conf_a2b/conf_b2a/lift "
        "each ONE IEEE division of exact integers — lift staged as "
        "n_ab·N over n_a·n_b.  'zorder' rows (r12): Z-ORDER (Morton) "
        "multi-dim clustering readout (operators/zorder.py; Morton "
        "1966 / UB-tree, Bayer 1997 — the lakehouse data-skipping "
        "layout): lineitem keyed by interleaving (l_partkey, "
        "l_suppkey), each RANGE-NORMALIZED to 10 bits first (raw "
        "interleave with unequal domains wastes the top bits on the "
        "narrow column's constant zeros and degenerates to coarse "
        "linear — measured before normalizing) — the Morton key is "
        "pure integer shift/and arithmetic, bit-identical in DuckDB — "
        "then per-bucket zone-map boxes (count, min/max of BOTH raw "
        "columns) for THREE layouts — z, the leading-column linear "
        "sort, and the HILBERT curve (the same bit walk both engines "
        "run: dialect-free CASE/bitwise step expressions chained "
        "per bit; unit-step locality pinned on the reference walk, "
        "hilbert reads <= z buckets in tests) — and two verdict rows "
        "per layout: 'prune:' (a 2-D predicate box) and 'prunec1:' "
        "(suppkey-only — the case linear CANNOT prune: at sf0.1 "
        "linear reads all 64 buckets / 600k rows, z and hilbert read "
        "8 / 74.7k).  The hashed claim is the "
        "layout decision itself (cluster_by_z is the write side: "
        "repartitionByRange on the Morton key; tests/test_zorder.py "
        "pins tight per-partition boxes in BOTH dims, reference/"
        "DuckDB bit parity, and the pruning win)."
    ),
)
def topk_parts_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mongo2mysql_spark.operators.basket import association_rules
    from mongo2mysql_spark.operators.skew import salted_topk_per_group
    from mongo2mysql_spark.queries import tagged_union

    p = T(spark, sf_dir, "part")
    topk = salted_topk_per_group(
        p, ["p_brand"], [F.desc("p_retailprice"), F.col("p_partkey")], k=3
    ).select("p_brand", "p_partkey", "p_retailprice")
    mins = subquery_min_per_group(spark, sf_dir).select(
        "p_brand", "p_partkey", "p_retailprice"
    )
    li = T(spark, sf_dir, "lineitem")
    rules = association_rules(
        li, "l_orderkey", "l_partkey",
        min_item_count=_BK_MIN_ITEM, min_pair_count=_BK_MIN_PAIR,
    )
    # 'zorder' (r12): the Morton-clustering zone-map readout
    # (operators/zorder.py) — per-bucket min/max boxes under the z
    # layout AND the leading-column linear layout, plus the pruning
    # verdict for the planted 2-D predicate box.  Column reuse:
    # p_brand=layout ('z'/'linear'/'prune:<layout>'), p_partkey=bucket,
    # item_a/item_b=min/max partkey, n_a/n_b=min/max suppkey (prune
    # rows: n_a=buckets_read, n_ab=rows_read, n_baskets=n_buckets).
    from mongo2mysql_spark.operators.zorder import (
        layout_bucket_stats,
        prune_counts,
    )

    # fused single-pass stats (layout_bucket_stats: row-identical to
    # z UNION hilbert but ONE lineitem scan instead of six), then
    # checkpoint: the <= 3 layouts x 64 buckets frame feeds the
    # 'zorder' stat rows AND two prune_counts verdicts (3 consumers)
    zstats = layout_bucket_stats(
        li.select("l_partkey", "l_suppkey"),
        ["l_partkey", "l_suppkey"], _ZO_BITS, _ZO_BUCKETS,
    ).localCheckpoint()
    zrows = zstats.select(
        F.col("layout").alias("p_brand"),
        F.col("bucket").alias("p_partkey"),
        F.col("min0").alias("item_a"),
        F.col("max0").alias("item_b"),
        F.col("min1").alias("n_a"),
        F.col("max1").alias("n_b"),
        F.col("n").alias("n_ab"),
    )
    def zverdict(box, label):
        return prune_counts(zstats, *box).select(
            F.concat(F.lit(label), F.col("layout")).alias("p_brand"),
            F.col("buckets_read").alias("n_a"),
            F.col("rows_read").alias("n_ab"),
            F.col("n_buckets").alias("n_baskets"),
        )

    zorder = zrows.unionByName(
        zverdict(_ZO_BOX, "prune:"), allowMissingColumns=True
    ).unionByName(
        zverdict(_ZO_BOX1, "prunec1:"), allowMissingColumns=True
    )
    return tagged_union(
        {"topk": topk, "min": mins, "basket": rules, "zorder": zorder},
        tag_col="op",
    )


from mongo2mysql_spark.queries.behavior import (
    behavior_branches,
    behavior_oracle_parts,
    _BEHAVIOR_NULLS,
)

_BEH_CTES, _BEH_LEGS = behavior_oracle_parts()


@register(
    "events_sessionize",
    f"""
    WITH flagged AS (
      SELECT user_id, event_id, ts,
             CASE WHEN epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > 1800000
                  OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      SELECT user_id, event_id, ts,
             CAST(SUM(new_session) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id
                                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS INTEGER) AS session_id
      FROM flagged
    ),
    {_BEH_CTES}
    SELECT 'sessions' AS branch, user_id, session_id,
           COUNT(*) AS n_events,
           CAST(MIN(ts) AS TIMESTAMP) AS session_start,
           CAST(MAX(ts) AS TIMESTAMP) AS session_end,
           {_BEHAVIOR_NULLS}
    FROM sessions
    GROUP BY user_id, session_id
    UNION ALL
    {_BEH_LEGS}
    """,
    doc=(
        "event-analytics family, tagged.  'sessions' rows: 30-min-gap "
        "sessionization via lag + running sum (batch form).  'funnel' "
        "rows: the ordered conversion funnel signup→view→click→purchase "
        "(operators/behavior.funnel_counts — step i counts users whose "
        "step-i event falls strictly after their step-(i−1) completion, "
        "completions resolved as lexicographic min((ts, event_id)) so "
        "same-timestamp events can't fork engines; the ClickHouse-"
        "windowFunnel / product-analytics shape).  'retention' rows: the "
        "weekly retention triangle — cohort = Monday week of first "
        "event, cells = distinct active users per (cohort, offset), "
        "offsets exact day-diff/7 integers.  'transitions' rows: "
        "first-order Markov transition counts + per-source "
        "probabilities between a user's consecutive events (journey "
        "mining).  'latency' rows: per-user conversion latency "
        "(operators/behavior.conversion_latency — first view to first "
        "purchase strictly after it, lexicographic min((ts, event_id)) "
        "completions, exact integer milliseconds).  'latdist' rows: "
        "the latency distribution — converter count + p50/p90 via "
        "exact_quantiles (bit-identical to the oracle's "
        "quantile_cont); 1-row × 1-row broadcast crossJoin, "
        "allowlisted.  'attribution' rows: marketing-attribution "
        "credit (operators/behavior.attribution_credit) — per (touch, "
        "conversion) pair inside the funnel's 24h window, first-touch/"
        "last-touch winners via the funnel's lexicographic (ts, id) "
        "min/max discipline and linear credit = 1/n_touches (exact "
        "integers + booleans, one IEEE division); user-keyed join + "
        "grouped min/max/count, no windows.  Every other value is "
        "integer counts, "
        "dates/timestamps, or one int-over-int IEEE division — no "
        "float contract beyond the quantile parity."
    ),
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mongo2mysql_spark.queries import tagged_union

    e = T(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    ms = F.unix_millis(F.col("ts"))
    new_session = F.when(
        (ms - F.lag(ms).over(w) > 1800000) | F.lag(ms).over(w).isNull(), 1
    ).otherwise(0)
    wf = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    sessions = (
        e.select("user_id", "event_id", "ts", new_session.alias("new_session"))
        .withColumn("session_id", F.sum("new_session").over(wf).cast("int"))
        .groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
    )
    return tagged_union(
        {"sessions": sessions, **behavior_branches(spark, sf_dir, e)}
    )


# ------------------------------------------------------------- sort/limit/set


# Not a registry entry (slot ceded to corpus_clean_pipeline): global
# top-N semantics stay covered by topk_parts_per_brand's ordered output
# and the TakeOrderedAndProject plan assertion in tests/test_plans.py,
# which drives this function directly.
def sort_limit_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_totalprice", "o_orderdate")
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(20)
    )


_SET_OPS_SQL = """
    SELECT 'union' AS op, nationkey, CAST(NULL AS DOUBLE) AS bal FROM (
      SELECT c_nationkey AS nationkey FROM customer
      UNION SELECT s_nationkey FROM supplier)
    UNION ALL
    SELECT 'intersect' AS op, nationkey, CAST(NULL AS DOUBLE) AS bal FROM (
      SELECT c_nationkey AS nationkey FROM customer
      INTERSECT SELECT s_nationkey FROM supplier)
    UNION ALL
    SELECT 'except' AS op, nationkey, CAST(NULL AS DOUBLE) AS bal FROM (
      SELECT c_nationkey AS nationkey FROM customer
      EXCEPT SELECT s_nationkey FROM supplier)
    UNION ALL
    SELECT 'distinct' AS op, nationkey, CAST(NULL AS DOUBLE) AS bal FROM (
      SELECT DISTINCT c_nationkey AS nationkey FROM customer)
    UNION ALL
    SELECT 'drift' AS op, nationkey, bal FROM (
      SELECT c_nationkey AS nationkey, c_acctbal AS bal FROM customer
      UNION ALL BY NAME
      SELECT s_nationkey AS nationkey FROM supplier)
    """


def set_ops_nation_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = T(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = T(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))

    def tag(df: DataFrame, op: str) -> DataFrame:
        return df.select(
            F.lit(op).alias("op"),
            "nationkey",
            F.lit(None).cast("double").alias("bal"),
        )

    drift = (
        T(spark, sf_dir, "customer")
        .select(F.col("c_nationkey").alias("nationkey"), F.col("c_acctbal").alias("bal"))
        .unionByName(s, allowMissingColumns=True)
        .select(F.lit("drift").alias("op"), "nationkey", "bal")
    )
    return (
        tag(c.union(s).distinct(), "union")
        .unionByName(tag(c.intersect(s), "intersect"))
        .unionByName(tag(c.subtract(s), "except"))  # EXCEPT (set), not EXCEPT ALL
        .unionByName(tag(c.distinct(), "distinct"))
        .unionByName(drift)
    )


# ----------------------------------------------------------- scalar functions


_SCALAR_SQL = r"""
    SELECT o_orderkey,
           upper(o_orderpriority) AS prio_upper,
           CAST(length(o_orderpriority) AS INTEGER) AS prio_len,
           CAST(regexp_extract(o_orderpriority, '(\d+)', 1) AS INTEGER) AS prio_num,
           string_split(o_orderpriority, '-')[2] AS prio_word,
           substring(o_orderstatus, 1, 1) AS status_prefix,
           concat_ws('|', o_orderstatus, o_orderpriority) AS status_prio,
           regexp_replace(o_orderpriority, '[AEIOU]', '_', 'g') AS devoweled,
           lpad(CAST(o_custkey AS VARCHAR), 8, '0') AS cust_padded,
           CAST(year(o_orderdate) AS INTEGER) AS order_year,
           CAST(month(o_orderdate) AS INTEGER) AS order_month,
           CAST(quarter(o_orderdate) AS INTEGER) AS order_quarter,
           CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
           CAST(o_orderdate AS DATE) + 30 AS due_date,
           CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INTEGER) AS days_since_epoch_start,
           strftime(o_orderdate, '%Y-%m') AS ym,
           CAST(ROUND(CAST(o_totalprice * 1.07 AS DECIMAL(30,10)), 2) AS DOUBLE) AS taxed_price,
           CAST(floor(o_totalprice) AS BIGINT) AS price_floor,
           CAST(ceil(o_totalprice) AS BIGINT) AS price_ceil,
           abs(o_totalprice - 100000) AS price_dev,
           sqrt(o_totalprice) AS price_sqrt,
           o_orderkey % 7 AS key_mod
    FROM orders
    WHERE o_orderkey % 10 = 0
    """

_SCALAR_NULLS_SQL = (
    "CAST(NULL AS BIGINT) AS o_orderkey, CAST(NULL AS VARCHAR) AS prio_upper, "
    "CAST(NULL AS INTEGER) AS prio_len, CAST(NULL AS INTEGER) AS prio_num, "
    "CAST(NULL AS VARCHAR) AS prio_word, CAST(NULL AS VARCHAR) AS status_prefix, "
    "CAST(NULL AS VARCHAR) AS status_prio, CAST(NULL AS VARCHAR) AS devoweled, "
    "CAST(NULL AS VARCHAR) AS cust_padded, CAST(NULL AS INTEGER) AS order_year, "
    "CAST(NULL AS INTEGER) AS order_month, CAST(NULL AS INTEGER) AS order_quarter, "
    "CAST(NULL AS TIMESTAMP) AS month_start, CAST(NULL AS DATE) AS due_date, "
    "CAST(NULL AS INTEGER) AS days_since_epoch_start, CAST(NULL AS VARCHAR) AS ym, "
    "CAST(NULL AS DOUBLE) AS taxed_price, CAST(NULL AS BIGINT) AS price_floor, "
    "CAST(NULL AS BIGINT) AS price_ceil, CAST(NULL AS DOUBLE) AS price_dev, "
    "CAST(NULL AS DOUBLE) AS price_sqrt, CAST(NULL AS BIGINT) AS key_mod"
)


@register(
    "scalar_setops",
    f"""
    WITH so AS ({_SET_OPS_SQL}),
    sc AS ({_SCALAR_SQL})
    SELECT 'setop' AS branch, so.*, {_SCALAR_NULLS_SQL} FROM so
    UNION ALL
    SELECT 'scalar' AS branch, CAST(NULL AS VARCHAR) AS op,
           CAST(NULL AS INTEGER) AS nationkey, CAST(NULL AS DOUBLE) AS bal,
           sc.* FROM sc
    """,
    doc=(
        "set-operation + scalar-function surfaces in one tagged result.  "
        "'setop': UNION (distinct), INTERSECT, EXCEPT, plain DISTINCT, and "
        "the schema-drift union (unionByName(allowMissingColumns=True) — "
        "the union used when folding collections whose inferred schemas "
        "differ, SURVEY §1.3).  'scalar': one pass over orders — strings "
        "(case, length, regex extract/replace, split, substring, concat, "
        "pad), dates (extract, trunc, add, diff, format), math (decimal-"
        "domain round, floor/ceil, abs, sqrt, modulo); all whole-stage-"
        "codegen expressions, round through DECIMAL because round(double) "
        "is engine-dependent at half-way binary values."
    ),
)
def scalar_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mongo2mysql_spark.queries import tagged_union

    return tagged_union(
        {
            "setop": set_ops_nation_keys(spark, sf_dir),
            "scalar": scalar_string_date_math(spark, sf_dir),
        }
    )


def scalar_string_date_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 10 == 0)
    d = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        F.upper("o_orderpriority").alias("prio_upper"),
        F.length("o_orderpriority").alias("prio_len"),
        F.regexp_extract("o_orderpriority", r"(\d+)", 1).cast("int").alias("prio_num"),
        F.element_at(F.split("o_orderpriority", "-"), 2).alias("prio_word"),
        F.substring("o_orderstatus", 1, 1).alias("status_prefix"),
        F.concat_ws("|", "o_orderstatus", "o_orderpriority").alias("status_prio"),
        F.regexp_replace("o_orderpriority", "[AEIOU]", "_").alias("devoweled"),
        F.lpad(F.col("o_custkey").cast("string"), 8, "0").alias("cust_padded"),
        F.year(d).alias("order_year"),
        F.month(d).alias("order_month"),
        F.quarter(d).alias("order_quarter"),
        F.date_trunc("month", d).alias("month_start"),
        F.date_add(d.cast("date"), 30).alias("due_date"),
        F.datediff(d.cast("date"), F.lit("1995-01-01").cast("date")).alias(
            "days_since_epoch_start"
        ),
        F.date_format(d, "yyyy-MM").alias("ym"),
        F.round((F.col("o_totalprice") * 1.07).cast("decimal(30,10)"), 2)
        .cast("double")
        .alias("taxed_price"),
        F.floor("o_totalprice").alias("price_floor"),
        F.ceil("o_totalprice").alias("price_ceil"),
        F.abs(F.col("o_totalprice") - 100000).alias("price_dev"),
        F.sqrt("o_totalprice").alias("price_sqrt"),
        (F.col("o_orderkey") % 7).alias("key_mod"),
    )


# Correlated scalar subquery — registry slot folded into
# topk_parts_per_brand's 'min' branch (round-3 slot consolidation).
def subquery_min_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = T(spark, sf_dir, "part")
    mins = p.groupBy(F.col("p_brand").alias("mb")).agg(
        F.min("p_retailprice").alias("min_price")
    )
    return (
        p.join(
            F.broadcast(mins),
            (p.p_brand == F.col("mb")) & (p.p_retailprice == F.col("min_price")),
        )
        .select("p_brand", "p_partkey", "p_retailprice")
    )


@register(
    "asof_join_error_purchase",
    """
    WITH errors AS (
      SELECT user_id, event_id, ts FROM events WHERE event_type = 'error'),
    purchases AS (
      SELECT user_id, ts,
             MAX(event_id) AS purchase_event_id,
             MAX(value) AS purchase_value
      FROM events WHERE event_type = 'purchase'
      GROUP BY user_id, ts)
    SELECT e.user_id, e.event_id, CAST(e.ts AS TIMESTAMP) AS ts,
           p.purchase_event_id, p.purchase_value
    FROM errors e
    ASOF LEFT JOIN purchases p
      ON e.user_id = p.user_id AND e.ts >= p.ts
    """,
    doc=(
        "as-of join (operator Spark lacks natively): each error event gets "
        "the user's most recent prior purchase — union-sort-window technique, "
        "one shuffle, no inequality cross-join; oracle is DuckDB's native "
        "ASOF JOIN."
    ),
)
def asof_join_error_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mongo2mysql_spark.operators.asof import asof_join_backward

    e = T(spark, sf_dir, "events")
    errors = e.filter(F.col("event_type") == "error").select("user_id", "event_id", "ts")
    purchases = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(
            F.max("event_id").alias("purchase_event_id"),
            F.max("value").alias("purchase_value"),
        )
    )
    return asof_join_backward(
        errors, purchases, "user_id", "ts", "ts",
        ["purchase_event_id", "purchase_value"],
    )
