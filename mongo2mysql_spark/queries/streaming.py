"""Streaming queries: bounded streams driven to completion against the
parquet fixtures, oracle-checked against batch SQL (a windowed agg of a
bounded stream must equal the batch windowed agg; a stream-stream join
of bounded streams must equal the batch join).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mongo2mysql_spark.artifacts import artifact, await_query, scratch_dir
from mongo2mysql_spark.queries import register
from mongo2mysql_spark.streaming.pipeline import (
    run_to_memory,
    session_windows,
    sliding_counts,
    stream_events,
    stream_static_enrich,
    stream_stream_interval_join,
    tumbling_counts,
)


@register(
    "streaming_windowed_counts",
    """
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > 1800000
                  OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM flagged)
    SELECT 'tumbling1h' AS kind,
           CAST(time_bucket(INTERVAL '1 hour', ts) AS TIMESTAMP) AS window_start,
           event_type AS key,
           COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(30,10))), 4) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 2, 3
    UNION ALL
    SELECT 'sliding1h30m' AS kind,
           CAST(ws AS TIMESTAMP) AS window_start,
           CAST(NULL AS VARCHAR) AS key,
           COUNT(*) AS n,
           CAST(NULL AS DOUBLE) AS total_value
    FROM (
      SELECT time_bucket(INTERVAL '30 minutes', ts) - o * INTERVAL '30 minutes' AS ws
      FROM events, unnest([0, 1]) AS t(o))
    GROUP BY 2
    UNION ALL
    SELECT 'session30m' AS kind,
           CAST(MIN(ts) AS TIMESTAMP) AS window_start,
           CAST(user_id AS VARCHAR) AS key,
           COUNT(*) AS n,
           CAST(NULL AS DOUBLE) AS total_value
    FROM sessions
    GROUP BY user_id, sid
    """,
    doc=(
        "the three streaming window shapes, tagged and unioned: tumbling "
        "(1h, per event_type), sliding (1h/30min — each event lands in "
        "exactly 2 windows), and gap-based session windows "
        "(session_window, 30 min gap, per user).  Each branch is a "
        "watermarked windowed agg over a bounded stream and must equal "
        "its batch restatement (the session oracle is the classic "
        "lag+cumsum sessionization)."
    ),
)
def streaming_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # all three window shapes union into ONE streaming query (Spark 4.x
    # supports multiple stateful aggregations on separate union
    # branches), so the harness runs one stream execution instead of
    # three — ~1/3 the startup/teardown and micro-batch planning cost
    tum = tumbling_counts(stream_events(spark, sf_dir)).select(
        F.lit("tumbling1h").alias("kind"),
        "window_start",
        F.col("event_type").alias("key"),
        "n",
        "total_value",
    )
    sli = sliding_counts(stream_events(spark, sf_dir)).select(
        F.lit("sliding1h30m").alias("kind"),
        "window_start",
        F.lit(None).cast("string").alias("key"),
        "n",
        F.lit(None).cast("double").alias("total_value"),
    )
    ses = session_windows(stream_events(spark, sf_dir)).select(
        F.lit("session30m").alias("kind"),
        F.col("session_start").alias("window_start"),
        F.col("user_id").cast("string").alias("key"),
        F.col("n_events").alias("n"),
        F.lit(None).cast("double").alias("total_value"),
    )
    return run_to_memory(
        tum.unionByName(sli).unionByName(ses), shuffle_partitions=8
    )


def _join_view_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drive the incremental join-view store end-to-end: four
    interleaved availableNow insert batches (views/purchases, halved by
    event_id parity) folded through the aggregate-pushdown IVM path,
    then the served view — hash-gated against the plain batch
    join-aggregate."""
    import os

    from mongo2mysql_spark.streaming.joinview import (
        read_join_view,
        streaming_join_view_refresh,
    )

    with scratch_dir("joinview_slot_") as work:
        store = os.path.join(work, "store")
        runs = [("a", "view", 0), ("b", "purchase", 0),
                ("a", "view", 1), ("b", "purchase", 1)]
        for i, (side, et, half) in enumerate(runs):
            s = (
                stream_events(spark, sf_dir)
                .filter(
                    (F.col("event_type") == et)
                    & (F.col("event_id") % 2 == half)
                )
                .withColumn("grp", F.hour("ts"))
            )
            q = streaming_join_view_refresh(
                s, store, side, "user_id",
                group_col="grp", value_col="value",
                checkpoint_dir=os.path.join(work, f"ck{i}"),
            )
            await_query(q, "join-view refresh")
        return (
            read_join_view(spark, store)
            .select(
                F.col("grp").cast("int").alias("view_hour"),
                F.col("n_pairs").cast("long").alias("n_pairs"),
                F.col("pair_sum_q").cast("decimal(38,0)").cast("string")
                .alias("pair_sum_q"),
            )
            .localCheckpoint()
        )


# bloom join-pruning fixture (operators/bloomjoin.py): filter built
# on the BUILDING-segment customers, probe = events.user_id
_BJ_WORDS, _BJ_K = 512, 3
_BJ_SEG = "BUILDING"
from mongo2mysql_spark.operators.bloomjoin import (  # noqa: E402
    sql_bloom_build,
    sql_bloom_filter,
)

_BJ_BUILD_SQL = (
    f"(SELECT c_custkey FROM customer"
    f" WHERE c_mktsegment = '{_BJ_SEG}')"
)


@register(
    "streaming_enrich_join",
    f"""
    WITH {sql_bloom_build(_BJ_BUILD_SQL, "c_custkey", _BJ_WORDS, _BJ_K)},
    {sql_bloom_filter("events", "user_id", _BJ_WORDS, _BJ_K)},
    jv AS (
      SELECT CAST(hour(CAST(a.ts AS TIMESTAMP)) AS INTEGER) AS view_hour,
             CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(CAST(SUM(CAST(CAST(b.value AS DECIMAL(18,6)) * 1000000
                                AS BIGINT)) AS DECIMAL(38,0)) AS VARCHAR)
               AS pair_sum_q
      FROM (SELECT user_id, ts FROM events WHERE event_type = 'view') a
      JOIN (SELECT user_id, value FROM events
            WHERE event_type = 'purchase') b USING (user_id)
      GROUP BY 1)
    SELECT 'enrich' AS branch,
           CAST(time_bucket(INTERVAL '6 hours', e.ts) AS TIMESTAMP) AS window_start,
           c.c_mktsegment,
           COUNT(*) AS n,
           CAST(SUM(CAST(json_extract_string(e.props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
           CAST(NULL AS INTEGER) AS view_hour,
           CAST(NULL AS BIGINT) AS n_pairs,
           CAST(NULL AS VARCHAR) AS pair_sum_q
    FROM events e JOIN customer c ON c.c_custkey = e.user_id
    GROUP BY 2, 3
    UNION ALL
    SELECT 'joinview' AS branch,
           CAST(NULL AS TIMESTAMP) AS window_start,
           CAST(NULL AS VARCHAR) AS c_mktsegment,
           CAST(NULL AS BIGINT) AS n,
           CAST(NULL AS BIGINT) AS k_sum,
           view_hour, n_pairs, pair_sum_q
    FROM jv
    UNION ALL
    SELECT 'bloomjoin' AS branch,
           CAST(NULL AS TIMESTAMP) AS window_start,
           'w' AS c_mktsegment,
           word AS n, bits AS k_sum,
           CAST(NULL AS INTEGER) AS view_hour,
           CAST(NULL AS BIGINT) AS n_pairs,
           CAST(NULL AS VARCHAR) AS pair_sum_q
    FROM bjwords
    UNION ALL
    SELECT 'bloomjoin' AS branch,
           CAST(NULL AS TIMESTAMP) AS window_start,
           'counts' AS c_mktsegment,
           (SELECT CAST(count(*) AS BIGINT) FROM bjpass) AS n,
           (SELECT CAST(count(*) AS BIGINT) FROM events e
            JOIN customer c ON c.c_custkey = e.user_id
            WHERE c.c_mktsegment = '{_BJ_SEG}') AS k_sum,
           CAST(NULL AS INTEGER) AS view_hour,
           (SELECT CAST(count(*) AS BIGINT) FROM bjpass)
             - (SELECT CAST(count(*) AS BIGINT) FROM events e
                JOIN customer c ON c.c_custkey = e.user_id
                WHERE c.c_mktsegment = '{_BJ_SEG}') AS n_pairs,
           CAST(NULL AS VARCHAR) AS pair_sum_q
    UNION ALL
    SELECT 'bloomjoin' AS branch,
           CAST(NULL AS TIMESTAMP) AS window_start,
           'joined' AS c_mktsegment,
           CAST(count(*) AS BIGINT) AS n,
           CAST(NULL AS BIGINT) AS k_sum,
           CAST(NULL AS INTEGER) AS view_hour,
           CAST(NULL AS BIGINT) AS n_pairs,
           CAST(CAST(SUM(CAST(CAST(e.value AS DECIMAL(18,6)) * 1000000
                              AS BIGINT)) AS DECIMAL(38,0)) AS VARCHAR)
             AS pair_sum_q
    FROM events e JOIN customer c ON c.c_custkey = e.user_id
    WHERE c.c_mktsegment = '{_BJ_SEG}'
    """,
    doc=(
        "stream-static enrichment + incremental view maintenance, "
        "tagged.  'enrich' rows: events stream broadcast-joined to the "
        "customer dimension inside each micro-batch (stateless), JSON "
        "prop extraction (get_json_object), then a watermarked tumbling "
        "agg per market segment; equals the batch join + windowed agg.  "
        "'joinview' rows: incremental materialized JOIN-AGGREGATE view "
        "(streaming/joinview — the DBToaster/Materialize aggregate-"
        "pushdown rule): per-(view-hour) pair count and purchase-value "
        "sum over views⋈purchases by user, maintained across four "
        "interleaved insert batches with state bounded by JOIN KEYS "
        "(three counter tables), never by history; each refresh is one "
        "map-side-combined batch aggregate + one keyed join against the "
        "opposite counters + additive decimal merges, under the same "
        "immutable-version/atomic-manifest/(writer, epoch) discipline "
        "as the rollup store.  The oracle states the plain batch "
        "join-aggregate, so the hash proves any-order delta application "
        "converges to it bit-for-bit.  'bloomjoin' rows (r12): the "
        "runtime semi-join filter (operators/bloomjoin.py; Bloom 1970 "
        "— the explicit form of Spark's runtimeFilter.bloomFilter) on "
        "this slot's own join shape: the BUILDING-segment customers' "
        "keys folded into 512 62-bit words (salted-md5 positions, "
        "bit_or — bit-identical in DuckDB), events pre-filtered by the "
        "pure-expression probe BEFORE the join (the broadcast-variable "
        "shape: no join, no shuffle to apply it).  The filter WORDS "
        "hash ('w' rows), the pass/true/false-positive counts hash "
        "('counts': at sf0.1, 100k events -> 20,089 pass, 19,008 true, "
        "1,081 false positives — ~80% of the probe side pruned before "
        "the shuffle), and the FILTERED-path join aggregate ('joined') "
        "hashes against the UNFILTERED restatement — the machine-"
        "checked no-false-negative guarantee.  At 100 TB this is the "
        "lever that turns a selective dim predicate into a fact-scan "
        "prune: KBs of bits reach the probe side instead of a shuffle "
        "of everything (tests/test_bloomjoin.py: cross-engine parity, "
        "no-false-negatives, fp rate, join invariance)."
    ),
)
def streaming_enrich_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mongo2mysql_spark.queries import tagged_union
    from mongo2mysql_spark.sources.parquet import load_table

    ev = stream_events(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    enriched = stream_static_enrich(ev, cust, "user_id", ["c_mktsegment"]).withColumn(
        "prop_k", F.get_json_object("props", "$.k").cast("long")
    )
    agg = (
        enriched.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "6 hours").alias("w"), "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("prop_k").alias("k_sum"))
        .select(F.col("w.start").alias("window_start"), "c_mktsegment", "n", "k_sum")
    )
    # 'bloomjoin' (r12): the runtime semi-join filter
    # (operators/bloomjoin.py) on this slot's own join shape — the
    # BUILDING-segment customers' keys summarized into 512 62-bit
    # words, events pre-filtered by the pure-expression probe BEFORE
    # the join.  Hashed rows: the filter words themselves ('w'),
    # pass/true/false-positive counts ('counts'), and the
    # FILTERED-path join aggregate ('joined') which the oracle states
    # UNFILTERED — equality is the machine-checked no-false-negative
    # guarantee.  Column reuse: n=word/count, k_sum=bits/true-count,
    # n_pairs=false positives, pair_sum_q=quantized joined value sum.
    from mongo2mysql_spark.operators.bloomjoin import (
        bloom_build,
        bloom_might_contain,
        bloom_words_array,
    )
    from mongo2mysql_spark.sources.parquet import load_table as _lt

    bcust = (
        _lt(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == _BJ_SEG)
        .select("c_custkey")
    )
    words_df = bloom_build(bcust, "c_custkey", _BJ_WORDS, _BJ_K)
    # The enrich stream's availableNow round-trip mutates the session
    # shuffle-partitions conf (state-store sizing) while it runs — it
    # runs before the join-view store artifact (built once per
    # (application, sf_dir); cold here, so bench passes measure
    # serving) and the bloom words collect, so their checkpoints never
    # see the transient 8-partition conf.
    enrich = run_to_memory(agg, shuffle_partitions=8)
    jv = artifact(
        "streaming.join_view", spark, sf_dir,
        lambda: _join_view_frame(spark, sf_dir),
    )
    words = bloom_words_array(words_df, _BJ_WORDS)
    evb = _lt(spark, sf_dir, "events").select("user_id", "value")
    passed = evb.filter(
        bloom_might_contain(F.col("user_id"), words, _BJ_K)
    )
    wrows = words_df.select(
        F.lit("w").alias("c_mktsegment"),
        F.col("word").alias("n"),
        F.col("bits").alias("k_sum"),
    )
    true_n = evb.join(
        F.broadcast(bcust), F.col("user_id") == F.col("c_custkey")
    ).agg(F.count(F.lit(1)).alias("__t"))
    counts = (
        passed.agg(F.count(F.lit(1)).alias("n"))
        .crossJoin(F.broadcast(true_n))
        .select(
            F.lit("counts").alias("c_mktsegment"),
            "n",
            F.col("__t").alias("k_sum"),
            (F.col("n") - F.col("__t")).alias("n_pairs"),
        )
    )
    joined = (
        passed.join(
            F.broadcast(bcust), F.col("user_id") == F.col("c_custkey")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                (F.col("value").cast("decimal(18,6)") * 1000000)
                .cast("long")
            )
            .cast("decimal(38,0)")
            .cast("string")
            .alias("pair_sum_q"),
        )
        .select(F.lit("joined").alias("c_mktsegment"), "n", "pair_sum_q")
    )
    bj = wrows.unionByName(counts, allowMissingColumns=True).unionByName(
        joined, allowMissingColumns=True
    )
    return tagged_union(
        {
            "enrich": enrich,
            "joinview": jv,
            "bloomjoin": bj,
        }
    )


@register(
    "streaming_stream_join",
    """
    SELECT v.vid AS view_id, p.pid AS purchase_id, v.user_id
    FROM (SELECT user_id, ts AS v_ts, event_id AS vid
          FROM events WHERE event_type = 'view') v
    JOIN (SELECT user_id, ts AS p_ts, event_id AS pid
          FROM events WHERE event_type = 'purchase') p
    ON v.user_id = p.user_id
       AND p.p_ts >= v.v_ts AND p.p_ts <= v.v_ts + INTERVAL 1 HOUR
    """,
    doc=(
        "stream-stream interval join: purchases within 1 hour of a view by "
        "the same user, both sides watermarked so join state is evicted "
        "once the opposite watermark passes the interval bound; equals the "
        "batch interval join."
    ),
)
def streaming_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    views = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
            F.col("event_id").alias("view_id"),
        )
    )
    purchases = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("purchase_id"),
        )
    )
    joined = stream_stream_interval_join(
        views,
        purchases,
        "v_user = p_user AND p_ts >= v_ts AND p_ts <= v_ts + interval 1 hour",
        "v_ts",
        "p_ts",
    )
    return run_to_memory(joined, mode="append", shuffle_partitions=8).select(
        "view_id", "purchase_id", F.col("v_user").alias("user_id")
    )


QUOTA_N = 5


@register(
    "streaming_stateful_quota",
    f"""
    SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id
    FROM (SELECT user_id, ts, event_id,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS rn
          FROM events)
    WHERE rn <= {QUOTA_N}
    """,
    doc=(
        "custom stateful streaming operator (applyInPandasWithState, "
        "streaming/stateful.streaming_first_n_per_key): admit at most "
        f"{QUOTA_N} events per user — per-key admission quota / rate "
        "limit / take-first-N selection, one counter of state per key in "
        "the state store (RocksDB on a cluster, sharded by key).  On the "
        "bounded single-batch fixture replay this equals batch "
        "row_number() <= N with the same (ts, event_id) order, which the "
        "oracle states in SQL — so the Arrow state seam is hash-verified, "
        "not just smoke-run."
    ),
)
def streaming_stateful_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mongo2mysql_spark.streaming.stateful import streaming_first_n_per_key

    stream = stream_events(spark, sf_dir).select("user_id", "ts", "event_id")
    return run_to_memory(
        streaming_first_n_per_key(stream, ["user_id"], ["ts", "event_id"], QUOTA_N),
        mode="append",
        shuffle_partitions=8,
    )
