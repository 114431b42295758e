"""Interval/time-bucket query surface: bucketed range join and
hypertable rollup (extension operators — the brief's "operator Spark
lacks" family, alongside the as-of join).

Both queries are DuckDB-oracle-paired: DuckDB states the semantics
naively (inequality join; one aggregate per granularity) while the
Spark side uses the scale-shaped plan (bucket equi-join; hierarchical
partial re-aggregation) — the comparison proves the optimized plans
compute the naive semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mongo2mysql_spark.artifacts import (
    artifact,
    await_query,
    held,
    scratch_dir,
)
from mongo2mysql_spark.functions.scalar import dsum, sql_dsum
from mongo2mysql_spark.operators.rangejoin import range_join_bucketed
from mongo2mysql_spark.operators.rollup import sliding_distinct_sql
from mongo2mysql_spark.queries import register
from mongo2mysql_spark.sources import load_table as T

# Deterministic synthetic promo calendar: 60 overlapping windows over
# the orders date span (1995-2001), start every 37 days, length 10-59
# days.  Generated identically on both engines (pure integer algebra).
N_PROMOS = 60
PROMO_EPOCH = "1995-01-01"


def _promos(spark: SparkSession) -> DataFrame:
    i = F.col("id")
    return spark.range(N_PROMOS).select(
        i.alias("promo_id"),
        (i * 37).alias("start_day"),
        (i * 37 + 10 + (i * 7) % 50).alias("end_day"),
    )


@register(
    "range_join_promo_revenue",
    f"""
    WITH promos AS (
      SELECT i AS promo_id, i*37 AS start_day, i*37 + 10 + (i*7) % 50 AS end_day
      FROM range({N_PROMOS}) t(i)
    ),
    rints AS (
      SELECT datediff('day', DATE '{PROMO_EPOCH}', CAST(l_shipdate AS DATE))
               AS ship_day,
             datediff('day', DATE '{PROMO_EPOCH}', CAST(l_shipdate AS DATE))
               + 1 + (l_orderkey * 3 + l_linenumber * 7) % 28 AS rcpt_day
      FROM lineitem),
    ovl AS (
      -- BRUTE-FORCE interval×interval overlap; the Spark side runs the
      -- bin-fragmented equi-join, so the hash proves that plan complete
      SELECT p.promo_id, p.start_day, p.end_day, COUNT(*) AS n,
             CAST(SUM(LEAST(p.end_day, r.rcpt_day)
                      - GREATEST(p.start_day, r.ship_day) + 1) AS BIGINT)
               AS odays
      FROM promos p JOIN rints r
        ON r.ship_day <= p.end_day AND r.rcpt_day >= p.start_day
      GROUP BY 1, 2, 3)
    SELECT 'point' AS branch, promo_id, start_day, end_day,
           COUNT(*) AS n_orders,
           {sql_dsum('o_totalprice')} AS revenue,
           CAST(NULL AS BIGINT) AS overlap_days
    FROM promos JOIN orders
      ON datediff('day', DATE '{PROMO_EPOCH}', CAST(o_orderdate AS DATE))
         BETWEEN start_day AND end_day
    GROUP BY 2, 3, 4
    UNION ALL
    SELECT 'overlap' AS branch, promo_id, start_day, end_day,
           n AS n_orders, CAST(NULL AS DOUBLE) AS revenue,
           odays AS overlap_days
    FROM ovl
    """,
    doc=(
        "interval joins, two branches in one tagged slot.  'point' rows: "
        "range join (point-in-interval) — orders attributed to "
        "overlapping promo windows.  Spark plans the naive inequality "
        "join as a nested loop (O(n*m)); operators/rangejoin.py buckets "
        "the day domain and equi-joins on bucket id — "
        "shuffle-partitionable on both sides, exact-predicate re-check "
        "after.  'overlap' rows: interval × INTERVAL overlap join "
        "(operators/rangejoin.interval_overlap_join_binned — the bin-"
        "fragmentation technique of temporal/genomic joins): synthetic "
        "shipping windows [ship_day, ship_day+1+(key algebra)%28] vs "
        "promo windows, both sides fragmented into aligned day bins, "
        "equi-join on bin + exact re-check, each true pair emitted from "
        "exactly ONE canonical bin (greatest(start)'s bin — both sides "
        "provably fragment into it) so no dedup shuffle exists; per "
        "promo: overlapping-shipment count and total overlap days, all "
        "integer.  The DuckDB oracle states both joins naively."
    ),
)
def range_join_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mongo2mysql_spark.operators.rangejoin import (
        interval_overlap_join_binned,
    )
    from mongo2mysql_spark.queries import tagged_union

    orders = T(spark, sf_dir, "orders").select(
        "o_totalprice",
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit(PROMO_EPOCH).cast("date")
        ).alias("day_num"),
    )
    joined = range_join_bucketed(
        orders,
        _promos(spark),
        point_col="day_num",
        start_col="start_day",
        end_col="end_day",
        bucket_width=32,  # ~median promo length: ~2 bucket rows per promo
    )
    point = joined.groupBy("promo_id", "start_day", "end_day").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum(F.col("o_totalprice")).alias("revenue"),
    )
    li = T(spark, sf_dir, "lineitem")
    ship = F.datediff(
        F.col("l_shipdate").cast("date"), F.lit(PROMO_EPOCH).cast("date")
    )
    ivals = li.select(
        ship.alias("ship_day"),
        (
            ship
            + 1
            + (F.col("l_orderkey") * 3 + F.col("l_linenumber") * 7) % 28
        ).alias("rcpt_day"),
    )
    ov = interval_overlap_join_binned(
        ivals, _promos(spark), "ship_day", "rcpt_day",
        "start_day", "end_day", bin_width=64,
    )
    overlap = ov.groupBy("promo_id", "start_day", "end_day").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(
            F.least("end_day", "rcpt_day")
            - F.greatest("start_day", "ship_day")
            + 1
        ).alias("overlap_days"),
    )
    return tagged_union({"point": point, "overlap": overlap})


# sliding-distinct branch (operators/rollup.sliding_distinct): exact
# trailing-24h distinct users per (event_type, hour)
_SLIDE_HOURS = 24


@register(
    "events_hypertable_rollup",
    f"""
    WITH {sliding_distinct_sql("events", "event_type", "ts", "user_id",
                               _SLIDE_HOURS)},
    hourly AS (
      SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bucket, event_type,
             COUNT(*) AS n, SUM(CAST(value AS DECIMAL(30,10))) AS s
      FROM events GROUP BY 1, 2
    ), daily AS (
      SELECT date_trunc('day', bucket) AS bucket, event_type,
             CAST(SUM(n) AS BIGINT) AS n, SUM(s) AS s
      FROM hourly GROUP BY 1, 2
    ), weekly AS (
      SELECT date_trunc('week', bucket) AS bucket, event_type,
             CAST(SUM(n) AS BIGINT) AS n, SUM(s) AS s
      FROM daily GROUP BY 1, 2
    )
    SELECT 'hour' AS granularity, CAST(bucket AS TIMESTAMP) AS bucket, event_type,
           n AS n_rows, CAST(ROUND(s, 4) AS DOUBLE) AS sum_val FROM hourly
    UNION ALL
    SELECT 'day', CAST(bucket AS TIMESTAMP), event_type, n, CAST(ROUND(s, 4) AS DOUBLE) FROM daily
    UNION ALL
    SELECT 'week', CAST(bucket AS TIMESTAMP), event_type, n, CAST(ROUND(s, 4) AS DOUBLE) FROM weekly
    UNION ALL
    SELECT 'sliding24h', window_start, key, n_active,
           CAST(NULL AS DOUBLE) FROM sdau
    UNION ALL
    SELECT 'sliding24h_hll', window_start, key, n_active,
           CAST(1.0 AS DOUBLE) FROM sdau
    """,
    doc=(
        "hypertable rollup (continuous-aggregate shape): hour/day/week "
        "event_type aggregates where each coarser level re-aggregates the "
        "finer level's partials — the raw table is scanned and shuffled "
        "ONCE (to hour cardinality); day and week shuffle only partials.  "
        "The rollup is computed through the STREAMING refresh path "
        "(streaming/rollup.py): two Structured-Streaming runs over "
        "disjoint halves of events (event_id mod 2, availableNow) each "
        "drive the foreachBatch sink — batch → hour partials → merge at "
        "partial cardinality → immutable store dir + atomic manifest "
        "publish (raw history never rescanned) — and the multi-level "
        "union is served from the store the LAST refresh published, "
        "which must be bit-identical to the one-shot hierarchy the "
        "oracle states (COUNT and the decimal SUM are algebraic).  One "
        "slot therefore hash-verifies the batch rollup algebra AND the "
        "streaming store round-trip (parquet partials, manifest swap, "
        "epoch bookkeeping).  'sliding24h' rows: exact sliding-window "
        "distinct users per (event_type, hour) — the DAU shape "
        "(operators/rollup.sliding_distinct): sliding DISTINCT does not "
        "decompose into mergeable partials like the SUM/COUNT rollup "
        "above, so the exact path is the covered-window expansion — "
        "dedup to (key, user, hour) activity cells (the only corpus-"
        "sized shuffle), each cell votes in the 24 windows it covers, "
        "one count-distinct per window; cost is activity-cells × 24, "
        "never raw-event × 24.  'sliding24h_hll' rows: the HLL "
        "hour-partial ALTERNATIVE as code "
        "(operators/rollup.sliding_distinct_hll): per (key, hour) ONE "
        "fixed-size DataSketches sketch (duplicate-insensitive, so the "
        "activity-cell dedup shuffle disappears — the true 100 TB "
        "path), k sketch unions per window; exact counts ride n_rows "
        "under the unchanged sdau restatement and sum_val carries the "
        "max(10, 8%)-tolerance verdict stated 1.0 in the oracle — the "
        "agg_approx_sketches contract for float sketch estimates."
    ),
)
def events_hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mongo2mysql_spark.operators.rollup import (
        rollup_levels_from_partials,
        sliding_distinct,
    )
    from mongo2mysql_spark.streaming.pipeline import stream_events
    from mongo2mysql_spark.streaming.rollup import (
        read_partial_store,
        streaming_rollup_refresh,
    )

    def _build_store():
        # write-once streaming state (the two-batch fold is the replay
        # contract), built once per (application, sf_dir) like the
        # sibling streaming artifacts (funnelstate, annserve,
        # cmsstream): pass 1 pays the micro-batch round-trips, later
        # materializations serve the checkpointed partials
        with scratch_dir("rollup_refresh_") as work:
            store_dir = f"{work}/store"
            for batch_no in range(2):
                q = streaming_rollup_refresh(
                    stream_events(spark, sf_dir).filter(
                        F.col("event_id") % 2 == batch_no
                    ),
                    store_dir,
                    ts_col="ts",
                    group_cols=["event_type"],
                    value_col="value",
                    checkpoint_dir=f"{work}/ck{batch_no}",
                )
                await_query(q, "rollup store refresh")
            return read_partial_store(spark, store_dir).localCheckpoint()

    store = artifact("interval.rollup_store", spark, sf_dir, _build_store)
    levels = rollup_levels_from_partials(
        store, ["event_type"], levels=("hour", "day", "week")
    )
    ev = T(spark, sf_dir, "events", fanout=True)
    # held (persisted, released on the next build): the activity-cell dedup
    # (the slot's one corpus-sized shuffle) is shared by BOTH sliding
    # paths (r13 — HLL sketches are duplicate-insensitive, so building
    # them from cells is bit-identical and saves the second raw scan),
    # and sd (bounded keys x windows rows) feeds BOTH the 'sliding24h'
    # leg and the HLL verdict join
    from mongo2mysql_spark.operators.rollup import activity_cells

    cells = held(
        "interval.sliding_cells",
        activity_cells(ev, "event_type", "ts", "user_id"),
    )
    sd = held(
        "interval.sliding_dau",
        sliding_distinct(
            ev, "event_type", "ts", "user_id", window_hours=_SLIDE_HOURS,
            cells=cells,
        ),
    )
    dau = sd.select(
        F.lit("sliding24h").alias("granularity"),
        F.col("window_start").alias("bucket"),
        F.col("key").alias("event_type"),
        F.col("n_active").alias("n_rows"),
        F.lit(None).cast("double").alias("sum_val"),
    )
    # the HLL hour-partial alternative, SERVED with a tolerance verdict
    # (operators/rollup.sliding_distinct_hll): exact counts ride n_rows
    # (hashing against the same sdau restatement), sum_val carries the
    # within-tolerance verdict the oracle states as 1.0 — the
    # agg_approx_sketches contract for float sketch estimates; an
    # estimate drifting past max(10, 8%) flips the row to 0.0 and the
    # hash fails
    from mongo2mysql_spark.operators.rollup import sliding_distinct_hll

    est = sliding_distinct_hll(
        ev, "event_type", "ts", "user_id", window_hours=_SLIDE_HOURS,
        cells=cells,
    )
    tol = F.greatest(
        F.lit(10.0), F.col("n_active").cast("double") * 0.08
    )
    hll = (
        sd.join(est, ["key", "window_start"])
        .select(
            F.lit("sliding24h_hll").alias("granularity"),
            F.col("window_start").alias("bucket"),
            F.col("key").alias("event_type"),
            F.col("n_active").alias("n_rows"),
            F.when(
                F.abs(F.col("n_est") - F.col("n_active").cast("double"))
                <= tol,
                F.lit(1.0),
            )
            .otherwise(F.lit(0.0))
            .alias("sum_val"),
        )
    )
    return levels.unionByName(dau).unionByName(hll)
