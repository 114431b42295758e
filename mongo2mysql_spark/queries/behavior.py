"""Behavioral-analytics branches (extension layer): ordered funnel,
weekly retention cohorts, and Markov event transitions over the
``events`` stream, served as branches of the `events_sessionize` slot
(the registry holds exactly 50 entries — COVERAGE.md slot policy — so
the event-analytics family multiplexes into one tagged slot).

Oracle parity: everything is integer counts, Monday-truncated weeks
and one int-over-int IEEE division per rate.  The funnel's per-step
completion — Spark's ``min(struct(ts, event_id))`` — is restated as
the two-phase resolve (min ts among qualifying events, then min id at
that ts among qualifying), which is the same value by lexicographic-
min definition; step qualification uses SQL row comparison
``(ts, event_id) > (t, i)`` mirroring the struct comparison.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mongo2mysql_spark.artifacts import artifact, held, scratch_dir

FUNNEL_STEPS = ["signup", "view", "click", "purchase"]
FUNNEL_WINDOW_MS = 86_400_000  # windowFunnel bound: 24h from step 1
PATH_DEPTH = 4
PATH_K = 10


def _funnel_ctes(
    steps: list[str], prefix: str = "fs", within_ms: int | None = None
) -> str:
    """Two-phase lexicographic-min funnel chain; ``within_ms`` adds the
    windowFunnel time bound against the step-1 completion (the anchor
    is threaded through every fs CTE as ``anchor_ms``)."""
    x = prefix
    ctes = []
    for i, step in enumerate(steps, start=1):
        qualify = f"e.event_type = '{step}'"
        joins = ""
        if i > 1:
            joins = f"JOIN {x}{i - 1} p ON p.user_id = e.user_id"
            qualify += " AND (e.ts, e.event_id) > (p.t, p.i)"
            if within_ms is not None:
                qualify += (
                    f" AND epoch_ms(CAST(e.ts AS TIMESTAMP))"
                    f" <= p.anchor_ms + {within_ms}"
                )
        anchor = (
            "epoch_ms(CAST(a.t AS TIMESTAMP)) AS anchor_ms"
            if i == 1
            else "p.anchor_ms"
        )
        group_anchor = "" if i == 1 else ", p.anchor_ms"
        ctes.append(
            f"""{x}{i}a AS (
      SELECT e.user_id, min(e.ts) AS t
      FROM events e {joins}
      WHERE {qualify}
      GROUP BY e.user_id)"""
        )
        ctes.append(
            f"""{x}{i} AS (
      SELECT e.user_id, a.t, min(e.event_id) AS i, {anchor}
      FROM events e
      JOIN {x}{i}a a ON a.user_id = e.user_id AND e.ts = a.t
      {joins}
      WHERE {qualify}
      GROUP BY e.user_id, a.t{group_anchor})"""
        )
    count_rows = "\n      UNION ALL ".join(
        f"SELECT CAST({i} AS INTEGER) AS step, '{step}' AS event_type, "
        f"count(*) AS users FROM {x}{i}"
        for i, step in enumerate(steps, start=1)
    )
    ctes.append(f"{x}counts AS (\n      {count_rows})")
    final = "funnel" if x == "fs" else f"{x}funnel"
    ctes.append(
        f"""{final} AS (
      SELECT c.step, c.event_type, c.users, p.users AS denom,
             CASE WHEN p.users > 0
                  THEN CAST(c.users AS DOUBLE) / CAST(p.users AS DOUBLE)
             END AS rate
      FROM {x}counts c LEFT JOIN {x}counts p ON p.step = c.step - 1)"""
    )
    return ",\n    ".join(ctes)


def _funnel_max_ctes(
    steps: list[str], within_ms: int, prefix: str = "fm"
) -> str:
    """ClickHouse windowFunnel MAX-LEVEL restated as pure EXISTENCE:
    level >= L iff an L-way join finds a strictly-(ts, id)-increasing
    chain whose last event is within ``within_ms`` of its first (the
    earlier links are then inside the window by transitivity).  This
    is deliberately NOT the Spark side's greedy-anchor advance — the
    hash match proves greedy-per-anchor ∨ anchors ≡ the existence
    optimum (the exchange argument, machine-checked per row).  Final
    CTE: ``funnelmax(user_id, level)``."""
    x = prefix
    ctes = []
    for i, s in enumerate(steps, start=1):
        ctes.append(
            f"""{x}e{i} AS (
      SELECT user_id, ts, event_id,
             epoch_ms(CAST(ts AS TIMESTAMP)) AS ms
      FROM events WHERE event_type = '{s}')"""
        )
    legs = [f"SELECT DISTINCT user_id, 1 AS level FROM {x}e1"]
    for lvl in range(2, len(steps) + 1):
        joins = "\n      ".join(
            f"JOIN {x}e{j} t{j} ON t{j}.user_id = t1.user_id"
            for j in range(2, lvl + 1)
        )
        chain = " AND ".join(
            f"(t{j}.ts, t{j}.event_id) > (t{j - 1}.ts, t{j - 1}.event_id)"
            for j in range(2, lvl + 1)
        )
        legs.append(
            f"""SELECT DISTINCT t1.user_id, {lvl} AS level
      FROM {x}e1 t1
      {joins}
      WHERE {chain} AND t{lvl}.ms <= t1.ms + {within_ms}"""
        )
    union = "\n      UNION ALL ".join(legs)
    ctes.append(
        f"""funnelmax AS (
      SELECT user_id, CAST(max(level) AS INTEGER) AS level
      FROM ({union}) GROUP BY user_id)"""
    )
    return ",\n    ".join(ctes)


_RETENTION_CTES = """rfirst AS (
      SELECT user_id, min(CAST(date_trunc('week', ts) AS DATE)) AS cohort_week
      FROM events GROUP BY user_id),
    rsizes AS (
      SELECT cohort_week, count(*) AS cohort_size
      FROM rfirst GROUP BY cohort_week),
    ractive AS (
      SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk
      FROM events),
    rcells AS (
      SELECT f.cohort_week,
             CAST(date_diff('day', f.cohort_week, a.wk) / 7 AS INTEGER)
               AS week_offset,
             count(*) AS active
      FROM ractive a JOIN rfirst f USING (user_id)
      GROUP BY 1, 2),
    retention AS (
      SELECT c.cohort_week, c.week_offset, c.active, s.cohort_size,
             CAST(c.active AS DOUBLE) / CAST(s.cohort_size AS DOUBLE) AS rate
      FROM rcells c JOIN rsizes s USING (cohort_week))"""

_PATH_CTES = f"""ppathflag AS (
      SELECT user_id, event_id, ts, event_type,
             CASE WHEN epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > 1800000
                  OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    ppathsess AS (
      SELECT user_id, event_type, ts, event_id,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS sid
      FROM ppathflag),
    ppaths AS MATERIALIZED (
      SELECT user_id, sid,
             array_to_string(
               list(event_type ORDER BY ts, event_id)[1:{PATH_DEPTH}], '>')
               AS path,
             (list(event_type ORDER BY ts, event_id))[1] AS first
      FROM ppathsess GROUP BY user_id, sid),
    ppcnt AS MATERIALIZED (
      SELECT path, first, count(*) AS n
      FROM ppaths GROUP BY path, first),
    pptot AS (
      SELECT first, CAST(sum(n) AS BIGINT) AS total
      FROM ppcnt GROUP BY first),
    pptop AS (
      SELECT k.path, k.n, t.total,
             CAST(k.n AS DOUBLE) / CAST(t.total AS DOUBLE) AS share
      FROM ppcnt k JOIN pptot t USING (first)
      ORDER BY k.n DESC, k.path, k.first LIMIT {PATH_K})"""

_TRANSITION_CTES = """tpairs AS (
      SELECT event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events),
    tcount AS (
      SELECT event_type, next_type, count(*) AS n
      FROM tpairs WHERE next_type IS NOT NULL
      GROUP BY 1, 2),
    ttot AS (
      SELECT event_type, CAST(sum(n) AS BIGINT) AS tot
      FROM tcount GROUP BY event_type),
    transitions AS (
      SELECT c.event_type, c.next_type, c.n, t.tot,
             CAST(c.n AS DOUBLE) / CAST(t.tot AS DOUBLE) AS prob
      FROM tcount c JOIN ttot t USING (event_type))"""


_LATENCY_CTES = """lv1 AS (
      SELECT user_id, min(ts) AS t FROM events
      WHERE event_type = 'view' GROUP BY user_id),
    lv AS (
      SELECT e.user_id, a.t, min(e.event_id) AS i
      FROM events e JOIN lv1 a ON a.user_id = e.user_id AND e.ts = a.t
      WHERE e.event_type = 'view' GROUP BY e.user_id, a.t),
    lp1 AS (
      SELECT e.user_id, min(e.ts) AS t
      FROM events e JOIN lv v ON v.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND (e.ts, e.event_id) > (v.t, v.i)
      GROUP BY e.user_id),
    lp AS (
      SELECT e.user_id, a.t, min(e.event_id) AS i
      FROM events e
      JOIN lp1 a ON a.user_id = e.user_id AND e.ts = a.t
      JOIN lv v ON v.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND (e.ts, e.event_id) > (v.t, v.i)
      GROUP BY e.user_id, a.t),
    lat AS (
      SELECT p.user_id,
             CAST(epoch_ms(CAST(p.t AS TIMESTAMP))
                  - epoch_ms(CAST(v.t AS TIMESTAMP)) AS BIGINT) AS latency_ms
      FROM lp p JOIN lv v USING (user_id)),
    latdist AS (
      SELECT CAST(count(*) AS BIGINT) AS n_conv,
             quantile_cont(CAST(latency_ms AS DOUBLE), 0.5) AS lat_p50,
             quantile_cont(CAST(latency_ms AS DOUBLE), 0.9) AS lat_p90
      FROM lat)"""

# Attribution models (operators/behavior.attribution_credit): per
# (touch, conversion) pair within the window, first/last flags via the
# funnel's two-phase lexicographic min/max restatement, linear credit
# one IEEE division.  Window bound shared with the funnel — the SAME
# FUNNEL_WINDOW_MS constant the Spark branch passes is interpolated
# here (a hardcoded 86400000 would silently desync the restatement
# from the branch if the constant ever changed).
_ATTR_CTES = f"""atch AS (
      SELECT user_id, ts, event_id FROM events
      WHERE event_type = 'view'),
    acnv AS (
      SELECT user_id, ts AS p_ts, event_id AS p_id FROM events
      WHERE event_type = 'purchase'),
    apair AS (
      SELECT t.user_id, t.ts, t.event_id, c.p_ts, c.p_id
      FROM atch t JOIN acnv c ON c.user_id = t.user_id
      WHERE (t.ts, t.event_id) < (c.p_ts, c.p_id)
        AND epoch_ms(CAST(c.p_ts AS TIMESTAMP))
            - epoch_ms(CAST(t.ts AS TIMESTAMP)) <= {FUNNEL_WINDOW_MS}),
    asts AS (
      SELECT user_id, p_id, CAST(count(*) AS BIGINT) AS n_touches,
             min(ts) AS f_ts, max(ts) AS l_ts
      FROM apair GROUP BY 1, 2),
    afid AS (
      SELECT a.user_id, a.p_id, min(e.event_id) AS f_id
      FROM apair e
      JOIN asts a ON a.user_id = e.user_id AND a.p_id = e.p_id
                 AND e.ts = a.f_ts
      GROUP BY 1, 2),
    alid AS (
      SELECT a.user_id, a.p_id, max(e.event_id) AS l_id
      FROM apair e
      JOIN asts a ON a.user_id = e.user_id AND a.p_id = e.p_id
                 AND e.ts = a.l_ts
      GROUP BY 1, 2),
    attrib AS (
      SELECT e.user_id, e.event_id AS touch_id, e.p_id AS purchase_id,
             s.n_touches,
             e.ts = s.f_ts AND e.event_id = f.f_id AS is_first,
             e.ts = s.l_ts AND e.event_id = l.l_id AS is_last,
             CAST(1.0 AS DOUBLE) / CAST(s.n_touches AS DOUBLE) AS credit
      FROM apair e
      JOIN asts s ON s.user_id = e.user_id AND s.p_id = e.p_id
      JOIN afid f ON f.user_id = e.user_id AND f.p_id = e.p_id
      JOIN alid l ON l.user_id = e.user_id AND l.p_id = e.p_id)"""


_ATTR_NULLS = """CAST(NULL AS BIGINT) AS touch_id,
           CAST(NULL AS BIGINT) AS purchase_id,
           CAST(NULL AS BIGINT) AS n_touches,
           CAST(NULL AS BOOLEAN) AS is_first,
           CAST(NULL AS BOOLEAN) AS is_last,
           CAST(NULL AS DOUBLE) AS credit"""

_BEHAVIOR_NULLS = f"""CAST(NULL AS INTEGER) AS step,
           CAST(NULL AS VARCHAR) AS event_type,
           CAST(NULL AS VARCHAR) AS next_type,
           CAST(NULL AS DATE) AS cohort_week,
           CAST(NULL AS INTEGER) AS week_offset,
           CAST(NULL AS BIGINT) AS users,
           CAST(NULL AS BIGINT) AS denom,
           CAST(NULL AS DOUBLE) AS rate,
           CAST(NULL AS BIGINT) AS latency_ms,
           CAST(NULL AS DOUBLE) AS lat_p50,
           CAST(NULL AS DOUBLE) AS lat_p90,
           {_ATTR_NULLS}"""

_LAT_BARE_NULLS = """CAST(NULL AS BIGINT) AS latency_ms,
           CAST(NULL AS DOUBLE) AS lat_p50,
           CAST(NULL AS DOUBLE) AS lat_p90"""

_LAT_NULLS = f"""{_LAT_BARE_NULLS},
           {_ATTR_NULLS}"""

_SESSION_NULLS = """CAST(NULL AS BIGINT) AS user_id,
           CAST(NULL AS INTEGER) AS session_id,
           CAST(NULL AS BIGINT) AS n_events,
           CAST(NULL AS TIMESTAMP) AS session_start,
           CAST(NULL AS TIMESTAMP) AS session_end"""


def behavior_oracle_parts() -> tuple[str, str]:
    """(ctes, union_legs) for splicing into `events_sessionize`'s
    oracle (the slot multiplexes the behavioral-analytics branches —
    COVERAGE.md slot policy; the legs fill the session columns with
    typed NULLs and vice versa)."""
    ctes = ",\n    ".join(
        [_funnel_ctes(FUNNEL_STEPS),
         _funnel_ctes(FUNNEL_STEPS, prefix="fw",
                      within_ms=FUNNEL_WINDOW_MS),
         _funnel_max_ctes(FUNNEL_STEPS, FUNNEL_WINDOW_MS),
         _RETENTION_CTES, _TRANSITION_CTES,
         _PATH_CTES, _LATENCY_CTES, _ATTR_CTES]
    )
    _BEH_BASE_NULLS = """CAST(NULL AS INTEGER) AS step,
           CAST(NULL AS VARCHAR) AS event_type,
           CAST(NULL AS VARCHAR) AS next_type,
           CAST(NULL AS DATE) AS cohort_week,
           CAST(NULL AS INTEGER) AS week_offset,
           CAST(NULL AS BIGINT) AS users,
           CAST(NULL AS BIGINT) AS denom,
           CAST(NULL AS DOUBLE) AS rate"""
    legs = f"""SELECT 'funnel' AS branch, {_SESSION_NULLS},
           step, event_type,
           CAST(NULL AS VARCHAR) AS next_type,
           CAST(NULL AS DATE) AS cohort_week,
           CAST(NULL AS INTEGER) AS week_offset,
           users, denom, rate,
           {_LAT_NULLS}
    FROM funnel
    UNION ALL
    SELECT 'retention' AS branch, {_SESSION_NULLS},
           CAST(NULL AS INTEGER) AS step,
           CAST(NULL AS VARCHAR) AS event_type,
           CAST(NULL AS VARCHAR) AS next_type,
           cohort_week, week_offset,
           active AS users, cohort_size AS denom, rate,
           {_LAT_NULLS}
    FROM retention
    UNION ALL
    SELECT 'funnelwin' AS branch, {_SESSION_NULLS},
           step, event_type,
           CAST(NULL AS VARCHAR) AS next_type,
           CAST(NULL AS DATE) AS cohort_week,
           CAST(NULL AS INTEGER) AS week_offset,
           users, denom, rate,
           {_LAT_NULLS}
    FROM fwfunnel
    UNION ALL
    SELECT 'funnelstate' AS branch, {_SESSION_NULLS},
           step, event_type,
           CAST(NULL AS VARCHAR) AS next_type,
           CAST(NULL AS DATE) AS cohort_week,
           CAST(NULL AS INTEGER) AS week_offset,
           users, denom, rate,
           {_LAT_NULLS}
    FROM funnel
    UNION ALL
    SELECT 'transitions' AS branch, {_SESSION_NULLS},
           CAST(NULL AS INTEGER) AS step,
           event_type, next_type,
           CAST(NULL AS DATE) AS cohort_week,
           CAST(NULL AS INTEGER) AS week_offset,
           n AS users, tot AS denom, prob AS rate,
           {_LAT_NULLS}
    FROM transitions
    UNION ALL
    SELECT 'paths' AS branch, {_SESSION_NULLS},
           CAST(NULL AS INTEGER) AS step,
           path AS event_type,
           CAST(NULL AS VARCHAR) AS next_type,
           CAST(NULL AS DATE) AS cohort_week,
           CAST(NULL AS INTEGER) AS week_offset,
           n AS users, total AS denom, share AS rate,
           {_LAT_NULLS}
    FROM pptop
    UNION ALL
    SELECT 'latency' AS branch,
           user_id,
           CAST(NULL AS INTEGER) AS session_id,
           CAST(NULL AS BIGINT) AS n_events,
           CAST(NULL AS TIMESTAMP) AS session_start,
           CAST(NULL AS TIMESTAMP) AS session_end,
           {_BEH_BASE_NULLS},
           latency_ms,
           CAST(NULL AS DOUBLE) AS lat_p50,
           CAST(NULL AS DOUBLE) AS lat_p90,
           {_ATTR_NULLS}
    FROM lat
    UNION ALL
    SELECT 'funnelmax' AS branch,
           user_id,
           CAST(NULL AS INTEGER) AS session_id,
           CAST(NULL AS BIGINT) AS n_events,
           CAST(NULL AS TIMESTAMP) AS session_start,
           CAST(NULL AS TIMESTAMP) AS session_end,
           level AS step,
           CAST(NULL AS VARCHAR) AS event_type,
           CAST(NULL AS VARCHAR) AS next_type,
           CAST(NULL AS DATE) AS cohort_week,
           CAST(NULL AS INTEGER) AS week_offset,
           CAST(NULL AS BIGINT) AS users,
           CAST(NULL AS BIGINT) AS denom,
           CAST(NULL AS DOUBLE) AS rate,
           {_LAT_NULLS}
    FROM funnelmax
    UNION ALL
    SELECT 'latdist' AS branch, {_SESSION_NULLS},
           CAST(NULL AS INTEGER) AS step,
           CAST(NULL AS VARCHAR) AS event_type,
           CAST(NULL AS VARCHAR) AS next_type,
           CAST(NULL AS DATE) AS cohort_week,
           CAST(NULL AS INTEGER) AS week_offset,
           n_conv AS users,
           CAST(NULL AS BIGINT) AS denom,
           CAST(NULL AS DOUBLE) AS rate,
           CAST(NULL AS BIGINT) AS latency_ms,
           lat_p50, lat_p90,
           {_ATTR_NULLS}
    FROM latdist
    UNION ALL
    SELECT 'attribution' AS branch,
           user_id,
           CAST(NULL AS INTEGER) AS session_id,
           CAST(NULL AS BIGINT) AS n_events,
           CAST(NULL AS TIMESTAMP) AS session_start,
           CAST(NULL AS TIMESTAMP) AS session_end,
           {_BEH_BASE_NULLS},
           {_LAT_BARE_NULLS},
           touch_id, purchase_id, n_touches, is_first, is_last, credit
    FROM attrib"""
    return ctes, legs


_FUNSTATE_PIVOT = "2024-01-15"


def _funnelstate_counts(spark, sf_dir: str, e: DataFrame) -> DataFrame:
    """Drive the STATEFUL streaming funnel (streaming/funnel.py) over
    the events table split into two time-ordered micro-batches, and
    collapse the per-user stage emissions into the batch funnel's
    count rows.  Built once per (application, sf_dir); the oracle states
    the batch funnel rows, so the driver hash proves per-user state
    carried across micro-batches reproduces the batch operator
    exactly (the 'hamserve' proof pattern, now for bespoke state)."""

    def build() -> DataFrame:
        from mongo2mysql_spark.streaming.funnel import (
            funnel_counts_from_progress,
            streaming_funnel_progress,
        )
        from mongo2mysql_spark.streaming.pipeline import run_to_memory

        cols = e.select("event_id", "ts", "user_id", "event_type")
        pivot = F.lit(_FUNSTATE_PIVOT).cast("timestamp")
        with scratch_dir("funnelstate_") as work:
            src = os.path.join(work, "in")
            os.makedirs(src)
            for i, batch in enumerate(
                (cols.filter(F.col("ts") < pivot),
                 cols.filter(F.col("ts") >= pivot))
            ):
                stage_dir = os.path.join(work, f"stage{i}")
                batch.coalesce(1).write.parquet(stage_dir)
                part = next(
                    n for n in os.listdir(stage_dir) if n.endswith(".parquet")
                )
                dst = os.path.join(src, f"{i:02d}.parquet")
                shutil.move(os.path.join(stage_dir, part), dst)
                # the file source orders by modification time: pin it
                os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
            stream = (
                spark.readStream.schema(cols.schema)
                .option("maxFilesPerTrigger", "1")
                .parquet(src)
            )
            prog = streaming_funnel_progress(
                stream, "user_id", "event_type", "ts", "event_id",
                FUNNEL_STEPS,
            )
            res = run_to_memory(prog, mode="append", shuffle_partitions=8)
            return funnel_counts_from_progress(
                res, "user_id", FUNNEL_STEPS
            ).localCheckpoint()

    return artifact("behavior.funnel_state", spark, sf_dir, build)


def behavior_branches(spark, sf_dir: str, e: DataFrame) -> dict[str, DataFrame]:
    """'funnel' / 'retention' / 'transitions' / 'funnelstate' frames in
    the `events_sessionize` union shape (tagged_union supplies the
    session columns as typed NULLs)."""
    from mongo2mysql_spark.operators.behavior import (
        event_transitions,
        funnel_counts,
        funnel_max_level,
        retention_cohorts,
        session_paths,
    )

    from mongo2mysql_spark.operators.behavior import (
        attribution_credit,
        conversion_latency,
    )
    from mongo2mysql_spark.operators.selection import exact_quantiles

    def _latpair():
        # conversion latency + its distribution summary: p50/p90 via
        # exact_quantiles (bit-identical to quantile_cont) cross-joined
        # with the 1-row converter count — the house-allowlisted 1-row
        # broadcast crossJoin.  held (persisted, released on the next
        # build): bounded one-row-per-converter frame consumed ~5x
        # (the quantile collect, the converter count, and the
        # 'latency'/'latdist' union legs)
        lat = held(
            "behavior.latency",
            conversion_latency(
                e, "user_id", "event_type", "ts", "event_id",
                "view", "purchase",
            ),
        )
        qdist = exact_quantiles(
            lat.select(F.col("latency_ms").cast("double").alias("__lm")),
            "__lm",
            {"lat_p50": 0.5, "lat_p90": 0.9},
        )
        ndist = lat.agg(F.count(F.lit(1)).cast("long").alias("users"))
        latdist = ndist.crossJoin(F.broadcast(qdist)).select(
            "users", "lat_p50", "lat_p90"
        )
        return lat, latdist

    # The funnelstate streaming round-trip sets the session
    # shuffle-partitions conf (run_to_memory state-store sizing) while
    # it runs — it runs first, so the funnel frontiers' eager
    # checkpoints and the funnelmax artifact below never see the transient
    # 8-partition conf.
    funnelstate = _funnelstate_counts(spark, sf_dir, e).select(
        "step", "event_type", "users", "denom", "rate"
    )
    lat, latdist = _latpair()
    fun = funnel_counts(
        e, "user_id", "event_type", "ts", "event_id", FUNNEL_STEPS
    ).select("step", "event_type", "users", "denom", "rate")
    funwin = funnel_counts(
        e, "user_id", "event_type", "ts", "event_id", FUNNEL_STEPS,
        within_ms=FUNNEL_WINDOW_MS,
    ).select("step", "event_type", "users", "denom", "rate")
    funnelmax = artifact(
        "behavior.funnel_max",
        spark,
        sf_dir,
        lambda: funnel_max_level(
            e, "user_id", "event_type", "ts", "event_id",
            FUNNEL_STEPS, within_ms=FUNNEL_WINDOW_MS,
        )
        .select("user_id", F.col("level").alias("step"))
        .localCheckpoint(),
    )
    ret = retention_cohorts(e, "user_id", "ts").select(
        "cohort_week",
        "week_offset",
        F.col("active").alias("users"),
        F.col("cohort_size").alias("denom"),
        "rate",
    )
    trans = event_transitions(
        e, "user_id", "event_type", "ts", "event_id"
    ).select(
        "event_type",
        "next_type",
        F.col("n").alias("users"),
        F.col("total").alias("denom"),
        F.col("prob").alias("rate"),
    )
    paths = session_paths(
        e, "user_id", "event_type", "ts", "event_id",
        depth=PATH_DEPTH, k=PATH_K,
    ).select(
        F.col("path").alias("event_type"),
        F.col("n").alias("users"),
        F.col("total").alias("denom"),
        F.col("share").alias("rate"),
    )
    # attribution models (operators/behavior.attribution_credit):
    # first/last-touch flags + linear credit per (touch, conversion)
    # pair inside the funnel's 24h window — exact integers + booleans,
    # one IEEE division for the linear share
    attr = attribution_credit(
        e, "user_id", "event_type", "ts", "event_id",
        "view", "purchase", within_ms=FUNNEL_WINDOW_MS,
    ).select("user_id", "touch_id", "purchase_id", "n_touches",
             "is_first", "is_last", "credit")
    return {
        "funnel": fun,
        "funnelwin": funwin,
        "attribution": attr,
        "retention": ret,
        "transitions": trans,
        "paths": paths,
        "funnelstate": funnelstate,
        "latency": lat.select("user_id", "latency_ms"),
        "latdist": latdist,
        # ClickHouse windowFunnel max-level semantics (all anchors
        # searched — the re-entrant-user complement of 'funnelwin''s
        # deterministic first-anchor variant); level rides the step
        # column, per-user rows hash against an INDEPENDENT existence
        # restatement (k-way chain joins), so the greedy-anchor
        # advance is machine-proved equal to the existence optimum.
        # user-bounded artifact frame — slot-memoized like funnelstate
        # (pass 1 pays the anchor advances, later materializations
        # serve the checkpoint)
        "funnelmax": funnelmax,
    }
