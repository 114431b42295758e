"""Hypertable rollup: multi-granularity time-bucket aggregates from ONE
scan (TimescaleDB continuous-aggregate shape, re-expressed for Spark).

The naive form — one ``groupBy(date_trunc(g, ts))`` per granularity —
scans the raw table once per level and shuffles the full row count each
time.  The hypertable form aggregates the finest level from raw, then
derives every coarser level *from the previous level's partials*:

    raw ──groupBy hour──> hourly ──groupBy day──> daily ──> weekly

This works because the chosen aggregates are algebraic (COUNT re-sums,
SUM re-sums; the decimal accumulator stays exact under re-aggregation)
and because coarser ``date_trunc`` is a congruence of finer buckets
(``date_trunc('day', date_trunc('hour', ts)) == date_trunc('day', ts)``).
At 100 TB the raw shuffle happens once (to hour cardinality, ~10^5 rows
per year per group) and every further level shuffles only partials.
Non-reaggregable metrics (exact COUNT DISTINCT) don't fit this shape —
they need a sketch (HLL) or a per-level pass; deliberately excluded.

The reference has no time-series surface; this is extension surface
(the brief's "hypertable rollup" family).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mongo2mysql_spark.functions.scalar import DEC

# fine -> coarse truncation chain; each level must be a congruence of
# the previous (every coarser bucket is a union of finer buckets)
SUPPORTED_CHAINS = ("hour", "day", "week", "month", "quarter", "year")


def hypertable_rollup(
    df: DataFrame,
    ts_col: str,
    group_cols: list[str],
    value: Column,
    levels: tuple[str, ...] = ("hour", "day", "week"),
) -> DataFrame:
    """Tagged union of per-level aggregates ``(granularity, bucket,
    *group_cols, n_rows, sum_val)``, each coarser level re-aggregated
    from the finer level's partials.

    ``value`` is summed through DECIMAL(30,10) (exact, associative) so
    the result is partition-order independent and re-aggregation is
    bit-identical to a direct per-level sum.
    """
    order = {g: i for i, g in enumerate(SUPPORTED_CHAINS)}
    if any(g not in order for g in levels):
        raise ValueError(f"unsupported granularity in {levels}")
    if list(levels) != sorted(levels, key=order.__getitem__):
        raise ValueError("levels must be ordered fine -> coarse")

    finest = df.groupBy(
        F.date_trunc(levels[0], F.col(ts_col)).alias("bucket"), *group_cols
    ).agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(value.cast(DEC)).alias("__s"),
    )
    # the finest partial feeds every union leg: persist it so the raw
    # table is scanned once, not once per granularity (it is small —
    # one row per (bucket x group), hour cardinality); released below
    # once the bucket-bounded union is materialized, so a long-lived
    # session doesn't accumulate cached blocks per call
    finest = finest.persist()

    partials = {levels[0]: finest}
    for lvl in levels[1:]:
        prev = partials[list(partials)[-1]]
        partials[lvl] = prev.groupBy(
            F.date_trunc(lvl, F.col("bucket")).alias("bucket"), *group_cols
        ).agg(F.sum("__n").alias("__n"), F.sum("__s").alias("__s"))

    legs = [
        p.select(
            F.lit(lvl).alias("granularity"),
            "bucket",
            *group_cols,
            F.col("__n").alias("n_rows"),
            F.round(F.col("__s"), 4).cast("double").alias("sum_val"),
        )
        for lvl, p in partials.items()
    ]
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    out = out.localCheckpoint()
    finest.unpersist()
    return out


# -------------------------------------------- incremental refresh


def rollup_partials(
    df: DataFrame, ts_col: str, group_cols: list[str], value: Column,
    finest: str = "hour", distinct_col: str | None = None,
) -> DataFrame:
    """Finest-level mergeable partials ``(bucket, *group_cols, __n, __s
    [, __hll])`` for one batch of raw rows — the unit of incremental
    refresh.

    ``distinct_col`` extends the partials with a DataSketches HLL
    binary (``hll_sketch_agg``): exact COUNT DISTINCT is the one
    aggregate the module docstring excludes from re-aggregation, but
    the SKETCH is algebraic — ``hll_union_agg`` of partial sketches is
    byte-identical to sketching the whole history (asserted in tests) —
    so "distinct users per hour/day/week" rides the same
    never-rescan-raw refresh as counts and sums.
    """
    aggs = [
        F.count(F.lit(1)).alias("__n"),
        F.sum(value.cast(DEC)).alias("__s"),
    ]
    if distinct_col is not None:
        aggs.append(F.hll_sketch_agg(distinct_col).alias("__hll"))
    return df.groupBy(
        F.date_trunc(finest, F.col(ts_col)).alias("bucket"), *group_cols
    ).agg(*aggs)


def rollup_merge(store: DataFrame | None, batch_partials: DataFrame,
                 group_cols: list[str]) -> DataFrame:
    """Merge a batch's partials into the persisted partial store.

    COUNT and the decimal SUM are algebraic: merging is a re-sum per
    (bucket, group), bit-identical to aggregating the union of all raw
    rows ever seen (asserted in tests).  This is the continuous-
    aggregate refresh: each new ingest batch costs ONE aggregation of
    the batch plus one merge shuffled at partial (not raw) cardinality —
    the raw history is never rescanned.
    """
    if store is None:
        return batch_partials
    aggs = [F.sum("__n").alias("__n"), F.sum("__s").alias("__s")]
    if "__hll" in batch_partials.columns:
        aggs.append(F.hll_union_agg("__hll").alias("__hll"))
    return (
        store.unionByName(batch_partials)
        .groupBy("bucket", *group_cols)
        .agg(*aggs)
    )


def rollup_levels_from_partials(
    store: DataFrame, group_cols: list[str],
    levels: tuple[str, ...] = ("hour", "day", "week"),
) -> DataFrame:
    """The tagged multi-granularity union (same output contract as
    ``hypertable_rollup``) computed from a partial store instead of raw
    rows — coarser levels re-aggregate the finest partials exactly as
    the one-shot path does."""
    order = {g: i for i, g in enumerate(SUPPORTED_CHAINS)}
    if any(g not in order for g in levels):
        raise ValueError(f"unsupported granularity in {levels}")
    if list(levels) != sorted(levels, key=order.__getitem__):
        raise ValueError("levels must be ordered fine -> coarse")
    has_hll = "__hll" in store.columns
    aggs = [F.sum("__n").alias("__n"), F.sum("__s").alias("__s")]
    if has_hll:
        aggs.append(F.hll_union_agg("__hll").alias("__hll"))
    partials = {levels[0]: store}
    for lvl in levels[1:]:
        prev = partials[list(partials)[-1]]
        partials[lvl] = prev.groupBy(
            F.date_trunc(lvl, F.col("bucket")).alias("bucket"), *group_cols
        ).agg(*aggs)
    legs = [
        p.select(
            F.lit(lvl).alias("granularity"),
            "bucket",
            *group_cols,
            F.col("__n").alias("n_rows"),
            F.round(F.col("__s"), 4).cast("double").alias("sum_val"),
            *(
                [F.hll_sketch_estimate(F.col("__hll")).alias("n_distinct")]
                if has_hll
                else []
            ),
        )
        for lvl, p in partials.items()
    ]
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out


def activity_cells(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    user_col: str,
    interval_seconds: int = 3600,
) -> DataFrame:
    """(key, user, __h) distinct activity cells — the shared dedup both
    sliding-distinct paths start from (one corpus scan + one shuffle,
    bounded by ACTIVITY, never raw event count)."""
    h = F.floor(F.unix_timestamp(F.col(ts_col)) / interval_seconds).cast(
        "long"
    )
    return (
        df.select(
            F.col(key_col).alias("key"),
            F.col(user_col).alias("user"),
            h.alias("__h"),
        )
        .distinct()
    )


def sliding_distinct(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    user_col: str,
    window_hours: int = 24,
    interval_seconds: int = 3600,
    cells: DataFrame | None = None,
) -> DataFrame:
    """Exact sliding-window distinct count — the DAU/WAU shape: per
    (key, hour) the number of DISTINCT users active in the trailing
    ``window_hours`` ending at that hour.

    Sliding distinct does not decompose into mergeable partials the way
    SUM/COUNT do (the hypertable rollup's algebra).  The textbook exact
    answer is the covered-window expansion (each (key, user, hour)
    activity cell votes in the k windows it covers, count-distinct per
    window) — cells × k rows through the shuffle plus a two-phase
    distinct aggregate.  r13 replaces it with exact INTERVAL DELTA
    ENCODING (guide §2.3 "shuffle fewer bytes"): a user's covered
    windows are the union of [h, h+k-1] runs, so per (key, user) the
    sorted activity hours merge into runs (gap > k splits), each run
    contributes +1 at its first window and −1 one past its last, the
    per-(key, window) delta sum cumulates into the distinct count, and
    constant-count stretches between changepoints re-expand through
    ``sequence`` only at OUTPUT size.  Rows through the shuffles drop
    from cells × k to ≤ 2 × runs ≤ 2 × cells (24× fewer at the default
    day window), the count-distinct expand disappears, and the
    changepoint frame entering the per-key running sum is bounded by
    keys × time-span intervals — never by users.  Same exact integers:
    runs are disjoint per user, so the delta sum at window w is
    precisely the number of users whose coverage contains w
    (equivalence pinned against the expansion form by
    ``test_sliding_distinct_delta_equals_expansion``).

    ``cells`` lets a caller that already holds the
    :func:`activity_cells` frame (e.g. to share it with the HLL path)
    pass it in; it must have been built with the same
    ``interval_seconds``.

    Windows with no activity are absent (deterministic in both
    engines).  Returns (key, window_start, n_active).

    ``window_hours`` means HOURS regardless of ``interval_seconds``:
    each cell covers ``window_hours*3600 // interval_seconds``
    trailing intervals (at the default 3600 s interval that is exactly
    ``window_hours`` steps, the original behavior).
    """
    from pyspark.sql import Window as W

    steps = max(1, (window_hours * 3600) // interval_seconds)
    if cells is None:
        cells = activity_cells(df, key_col, ts_col, user_col, interval_seconds)
    # per (key, user): sorted activity hours -> merged coverage runs
    # (hour count per user is bounded by the data's time span)
    hs = cells.groupBy("key", "user").agg(
        F.sort_array(F.collect_set("__h")).alias("__hs")
    )
    empty_runs = F.expr("CAST(array() AS array<struct<s:bigint,e:bigint>>)")

    def _merge(acc, x):
        last = F.element_at(acc, -1)
        first = F.array(F.struct(x.alias("s"), x.alias("e")))
        grown = F.concat(
            F.slice(acc, 1, F.size(acc) - 1),
            F.array(F.struct(last["s"].alias("s"), x.alias("e"))),
        )
        appended = F.concat(acc, first)
        return (
            F.when(F.size(acc) == 0, first)
            # runs [.., e+steps-1] and [x, ..] touch iff x <= e + steps
            .when(x - last["e"] <= F.lit(steps), grown)
            .otherwise(appended)
        )

    runs = hs.select(
        "key", F.explode(F.aggregate("__hs", empty_runs, _merge)).alias("__r")
    )
    deltas = runs.select(
        "key",
        F.explode(
            F.array(
                F.struct(F.col("__r.s").alias("wh"), F.lit(1).alias("d")),
                F.struct(
                    (F.col("__r.e") + steps).alias("wh"),
                    F.lit(-1).alias("d"),
                ),
            )
        ).alias("__cd"),
    ).select("key", F.col("__cd.wh").alias("__wh"), F.col("__cd.d").alias("__d"))
    # changepoints: keys x distinct interval indices — bounded by the
    # time span, so the per-key running sum below is a tiny window
    cp = deltas.groupBy("key", "__wh").agg(F.sum("__d").alias("__d"))
    w = W.partitionBy("key").orderBy("__wh")
    stepped = cp.select(
        "key",
        "__wh",
        F.sum("__d").over(w.rowsBetween(W.unboundedPreceding, 0)).alias("__n"),
        F.lead("__wh").over(w).alias("__next"),
    )
    # the final changepoint per key always cumulates to 0 (every +1 has
    # its -1), so every surviving row has a successor to expand toward
    return (
        stepped.filter(F.col("__n") > 0)
        .select(
            "key",
            F.explode(
                F.sequence(F.col("__wh"), F.col("__next") - 1)
            ).alias("__w"),
            F.col("__n"),
        )
        .select(
            "key",
            F.timestamp_seconds(F.col("__w") * interval_seconds).alias(
                "window_start"
            ),
            F.col("__n").cast("long").alias("n_active"),
        )
    )


def sliding_distinct_sql(
    events_cte: str,
    key_col: str,
    ts_col: str,
    user_col: str,
    window_hours: int = 24,
    interval_seconds: int = 3600,
) -> str:
    """DuckDB restatement; a final CTE ``sdau(key, window_start,
    n_active)`` with the identical covered-window expansion (and the
    identical hours→intervals step derivation)."""
    steps = max(1, (window_hours * 3600) // interval_seconds)
    return f"""scells AS (
      SELECT DISTINCT {key_col} AS key, {user_col} AS u,
             CAST(floor(epoch(CAST({ts_col} AS TIMESTAMP))) AS BIGINT)
               // {interval_seconds} AS h
      FROM {events_cte}),
    scover AS (
      SELECT key, u, unnest(range(h, h + {steps})) AS wh
      FROM scells),
    sdau AS (
      SELECT key,
             make_timestamp(wh * {interval_seconds} * 1000000)
               AS window_start,
             CAST(count(DISTINCT u) AS BIGINT) AS n_active
      FROM scover GROUP BY key, wh)"""


def sliding_distinct_hll(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    user_col: str,
    window_hours: int = 24,
    interval_seconds: int = 3600,
    lgk: int = 12,
    cells: DataFrame | None = None,
) -> DataFrame:
    """The EXTREME-SCALE alternative :func:`sliding_distinct`'s
    docstring promises, as code: per (key, hour) DataSketches HLL
    partials of the user column, each partial voting in the
    ``window_hours`` windows it covers, one ``hll_union_agg`` +
    estimate per window.

    ``cells`` optionally feeds the hour sketches from an existing
    :func:`activity_cells` frame instead of re-scanning ``df`` — HLL
    updates are idempotent (a duplicate item never changes the sketch
    state), so sketches built from deduped (key, user, hour) cells are
    identical to sketches built from the raw stream; a caller serving
    BOTH paths shares one scan+dedup.

    Why this is the 100 TB path: the exact covered-window expansion
    costs activity-cells × k rows through the shuffle AND an exact
    count-distinct per window; here the per-hour state is ONE
    fixed-size sketch (duplicate-insensitive, so the (key, user, hour)
    dedup shuffle disappears entirely — raw events fold map-side into
    hour sketches), and window cost is k sketch unions instead of a
    set union.  Estimates carry the HLL ±~1.6% (lgk=12) relative
    error; the registered branch therefore serves exact counts WITH a
    tolerance verdict (stated TRUE in the oracle), never a hashed
    estimate — the agg_approx_sketches contract.

    Returns (key, window_start, n_est DOUBLE).

    ``window_hours`` means HOURS regardless of ``interval_seconds``
    (step count derived as in :func:`sliding_distinct`).
    """
    steps = max(1, (window_hours * 3600) // interval_seconds)
    if cells is not None:
        src = cells.select("key", F.col("user").alias("u"), "__h")
    else:
        h = F.floor(
            F.unix_timestamp(F.col(ts_col)) / interval_seconds
        ).cast("long")
        src = df.select(
            F.col(key_col).alias("key"), F.col(user_col).alias("u"), h.alias("__h")
        )
    sketches = (
        src.groupBy("key", "__h")
        .agg(F.hll_sketch_agg("u", F.lit(lgk)).alias("__sk"))
    )
    covered = sketches.select(
        "key",
        "__sk",
        F.explode(
            F.sequence(F.col("__h"), F.col("__h") + (steps - 1))
        ).alias("__wh"),
    )
    return (
        covered.groupBy("key", "__wh")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("__sk")).alias("n_est")
        )
        .select(
            "key",
            F.timestamp_seconds(F.col("__wh") * interval_seconds).alias(
                "window_start"
            ),
            F.col("n_est").cast("double").alias("n_est"),
        )
    )
