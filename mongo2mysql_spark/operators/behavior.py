"""Behavioral / user-journey analytics over event streams (extension
layer — the event-analytics operator family of product-analytics
engines; the reference's 556-LoC ETL core has no event surface).

Three classic operators over an (event_id, ts, user_id, event_type)
stream:

- **Ordered funnel** (:func:`funnel_counts`): how many users performed
  step 1, then step 2 STRICTLY AFTER their step-1 completion, then
  step 3 after that… — the sequential-conversion query every event
  store ships (Amplitude/Mixpanel funnels, ClickHouse
  ``windowFunnel``).  Step ordering compares ``(ts, event_id)``
  lexicographically so same-timestamp events can't fork engines.
- **Retention cohorts** (:func:`retention_cohorts`): users grouped by
  first-seen week; for each (cohort, week-offset) cell, how many were
  active — the triangle every growth dashboard draws.
- **Event transitions** (:func:`event_transitions`): the first-order
  Markov transition counts between consecutive events of the same
  user — journey mining / next-action analysis.

Scale shape:

- The funnel is k passes, each ``filter(event_type = step)`` (predicate
  pushed to the scan — a step touches only its own rows) → join against
  the previous step's per-user completion frame (user-cardinality, not
  event-cardinality) → one map-side-combined min aggregate.  Shuffles
  key on ``user_id`` (high-cardinality, skew-safe).  Completion frames
  are lineage-truncated per step (each is referenced twice: next step's
  join + its own count).
- Retention is two aggregates over (user, week) — the DISTINCT
  projection collapses the event stream to at most users×weeks rows
  before the cell counts.
- Transitions use the per-user ordered window — the same
  high-cardinality-partition window sessionization uses; no
  low-cardinality funnel anywhere (the tiny step-count frame at the
  end is bounded by len(steps)).

Determinism: every output is integer counts, dates, and one
int-over-int IEEE double division per rate — bit-identical across
engines with no decimal contract needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F


def funnel_counts(
    events: DataFrame,
    user_col: str,
    type_col: str,
    ts_col: str,
    id_col: str,
    steps: list[str],
    within_ms: int | None = None,
) -> DataFrame:
    """Ordered-funnel user counts: row i = users whose step-i event
    happened strictly after their step-(i−1) completion, where a
    completion is the lexicographic ``min((ts, id))`` over qualifying
    events (= earliest ts, min id among its ties — the same
    max-then-min-id resolve the diversity selectors use, so float/ts
    ties can't fork engines).

    ``within_ms`` adds the windowFunnel-style time constraint: every
    later step must also land within ``within_ms`` of the user's
    step-1 completion (first-touch attribution window).  This is the
    deterministic first-anchor variant — the anchor is the FIRST
    step-1 completion, not ClickHouse's max-level search over all
    anchors — documented as such; completions stay lexicographic
    minima so the constrained funnel hash-gates exactly like the
    unconstrained one.

    Output: (step 1-based INT, event_type, users, denom = previous
    step's users, rate = users/denom as IEEE double; NULLs at step 1).
    """
    if len(steps) < 2:
        raise ValueError("a funnel needs at least 2 steps")
    counts: list[DataFrame] = []
    reached: DataFrame | None = None
    at = F.struct(F.col(ts_col), F.col(id_col))
    for i, step in enumerate(steps, start=1):
        ev = events.filter(F.col(type_col) == step)
        if reached is not None:
            ev = ev.join(reached, user_col).filter(at > F.col("__at"))
            if within_ms is not None:
                ev = ev.filter(
                    F.unix_millis(F.col(ts_col))
                    <= F.col("__anchor_ms") + within_ms
                )
        agg = ev.groupBy(user_col).agg(F.min(at).alias("__at"))
        if i == 1:
            agg = agg.withColumn(
                "__anchor_ms", F.unix_millis(F.col(f"__at.{ts_col}"))
            )
        elif within_ms is not None:
            agg = agg.join(
                reached.select(user_col, "__anchor_ms"), user_col
            )
        # r11 shape, restored after the round-12 driver bench refuted
        # the lazy held-persist conversion (5.7 → 35.9 s at 32 cores):
        # a lazy persist defers to the sink, where AQE materializes the
        # union's per-step count subtrees concurrently and the unfilled
        # caches race — each subtree recomputes the whole frontier
        # chain beneath it, worst with MORE cores.  The lazy
        # localCheckpoint resolves at first plan access, i.e. each
        # frontier materializes exactly once, serially, at build.
        reached = agg.localCheckpoint(eager=False)
        counts.append(
            reached.agg(F.count(F.lit(1)).alias("users")).select(
                F.lit(i).alias("step"),
                F.lit(step).alias("event_type"),
                "users",
            )
        )
    out = counts[0]
    for c in counts[1:]:
        out = out.unionByName(c)
    # conversion vs the previous step as a self-join on the bounded
    # len(steps)-row frame (a lag window here would be a partitionless
    # WindowExec — needless even when bounded)
    prev = out.select(
        (F.col("step") + 1).alias("step"), F.col("users").alias("denom")
    )
    return out.join(prev, "step", "left").select(
        "step",
        "event_type",
        "users",
        "denom",
        F.when(
            F.col("denom") > 0,
            F.col("users").cast("double") / F.col("denom").cast("double"),
        ).alias("rate"),
    )


def retention_cohorts(
    events: DataFrame, user_col: str, ts_col: str
) -> DataFrame:
    """Weekly retention triangle: cohort = Monday-truncated week of the
    user's first event; a (cohort, offset) cell counts users with any
    event in cohort-week + offset.

    Output: (cohort_week DATE, week_offset INT, active, cohort_size,
    rate) — offset 0 rows have rate 1.0 by construction.
    """
    wk = F.date_trunc("week", F.col(ts_col)).cast("date")
    first = events.groupBy(user_col).agg(F.min(wk).alias("cohort_week"))
    sizes = first.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    active = (
        events.select(F.col(user_col), wk.alias("wk"))
        .distinct()
        .join(first, user_col)
    )
    cells = active.groupBy(
        "cohort_week",
        (F.datediff(F.col("wk"), F.col("cohort_week")) / 7)
        .cast("int")
        .alias("week_offset"),
    ).agg(F.count(F.lit(1)).alias("active"))
    return cells.join(sizes, "cohort_week").select(
        "cohort_week",
        "week_offset",
        "active",
        "cohort_size",
        (F.col("active").cast("double") / F.col("cohort_size").cast("double"))
        .alias("rate"),
    )


def event_transitions(
    events: DataFrame,
    user_col: str,
    type_col: str,
    ts_col: str,
    id_col: str,
) -> DataFrame:
    """First-order Markov transition counts between a user's
    consecutive events (ordered by (ts, id)); ``prob`` normalizes per
    source type.  Output: (event_type, next_type, n, total, prob)."""
    w = W.partitionBy(user_col).orderBy(ts_col, id_col)
    pairs = events.select(
        F.col(type_col).alias("event_type"),
        F.lead(type_col).over(w).alias("next_type"),
    ).filter(F.col("next_type").isNotNull())
    counted = pairs.groupBy("event_type", "next_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    totals = counted.groupBy("event_type").agg(F.sum("n").alias("total"))
    return counted.join(totals, "event_type").select(
        "event_type",
        "next_type",
        "n",
        "total",
        (F.col("n").cast("double") / F.col("total").cast("double")).alias(
            "prob"
        ),
    )


def session_paths(
    events: DataFrame,
    user_col: str,
    type_col: str,
    ts_col: str,
    id_col: str,
    gap_ms: int = 1_800_000,
    depth: int = 4,
    k: int = 10,
) -> DataFrame:
    """Top-k session journeys: each session's first ``depth`` event
    types in (ts, id) order joined as ``a>b>c``, counted, with the
    share CONDITIONED on the entry point (``n / sessions starting with
    the same first event``) — P(journey | landing action), the path-
    analysis readout next to the funnel.  Sessions use the same
    30-min-gap rule as sessionization.

    Output: (path, n, total, share), top-``k`` by (n DESC, path,
    first-event) — a total order, so the cut is deterministic on every
    engine.  The per-entry-point totals join on a KEYED column (no
    global-total cartesian); the path build is one per-session
    ``sort_array`` over bounded session rows, never a global sort.

    The entry point is carried as ITS OWN COLUMN from the session
    aggregation (lexicographic min over (ts, id, type) structs — the
    same (ts, id) order the path uses), NOT recovered by re-splitting
    the joined path string: an event type that itself contains the
    ``>`` delimiter would make the split disagree with the true first
    event and silently mis-attribute per-entry totals.
    """
    w = W.partitionBy(user_col).orderBy(ts_col, id_col)
    ms = F.unix_millis(F.col(ts_col))
    new_session = F.when(
        (ms - F.lag(ms).over(w) > gap_ms) | F.lag(ms).over(w).isNull(), 1
    ).otherwise(0)
    wf = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    sess = events.select(
        F.col(user_col),
        F.col(ts_col),
        F.col(id_col),
        F.col(type_col).alias("__t"),
        F.sum(new_session).over(wf).alias("__sid"),
    )
    paths = sess.groupBy(user_col, "__sid").agg(
        F.array_join(
            F.slice(
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct(ts_col, id_col, "__t"))
                    ),
                    lambda x: x.getField("__t"),
                ),
                1,
                depth,
            ),
            ">",
        ).alias("path"),
        F.min(F.struct(ts_col, id_col, "__t"))
        .getField("__t")
        .alias("__first"),
    )
    counts = paths.groupBy("path", "__first").agg(
        F.count(F.lit(1)).alias("n")
    )
    totals = counts.groupBy("__first").agg(F.sum("n").alias("total"))
    return (
        counts.join(totals, "__first")
        .select(
            "path",
            "n",
            "total",
            (F.col("n").cast("double") / F.col("total").cast("double")).alias(
                "share"
            ),
            F.col("__first"),
        )
        .orderBy(F.desc("n"), "path", "__first")
        .limit(k)
        .drop("__first")
    )


def conversion_latency(
    df: DataFrame,
    user_col: str,
    type_col: str,
    ts_col: str,
    id_col: str,
    from_type: str,
    to_type: str,
) -> DataFrame:
    """Per-user time-to-convert: the gap between a user's FIRST
    ``from_type`` event and their first ``to_type`` event strictly
    after it — the product-analytics latency readout next to the
    ordered funnel (which reports WHO converts; this reports HOW FAST).

    Completions resolve as lexicographic ``min(struct(ts, id))`` — the
    funnel's tie discipline, so same-ts events cannot fork engines —
    and the latency is an exact integer millisecond difference.  Plan:
    two pushed event-type filter scans, one user-keyed join, map-side-
    combined min aggregates; no windows.

    Returns (user, latency_ms) for converting users only.
    """
    first_from = (
        df.filter(F.col(type_col) == from_type)
        .groupBy(user_col)
        .agg(F.min(F.struct(F.col(ts_col), F.col(id_col))).alias("__v"))
    )
    first_to = (
        df.filter(F.col(type_col) == to_type)
        .join(first_from, user_col)
        .filter(F.struct(F.col(ts_col), F.col(id_col)) > F.col("__v"))
        .groupBy(user_col, "__v")
        .agg(F.min(F.struct(F.col(ts_col), F.col(id_col))).alias("__p"))
    )
    return first_to.select(
        F.col(user_col).alias("user_id"),
        (
            F.unix_millis(F.col(f"__p.{ts_col}"))
            - F.unix_millis(F.col(f"__v.{ts_col}"))
        ).cast("long").alias("latency_ms"),
    )


def attribution_credit(
    df: DataFrame,
    user_col: str,
    type_col: str,
    ts_col: str,
    id_col: str,
    touch_type: str,
    convert_type: str,
    within_ms: int,
) -> DataFrame:
    """Marketing-attribution credit assignment — the standard
    first-touch / last-touch / linear models in one pass: for every
    conversion, the touches by the same user strictly before it (the
    funnel's lexicographic ``(ts, id)`` order, so same-ts events cannot
    fork engines) and within ``within_ms`` of it share the credit.

    One row per (touch, conversion) pair:
    ``(user_id, touch_id, purchase_id, n_touches, is_first, is_last,
    credit)`` where ``is_first``/``is_last`` mark the first-touch and
    last-touch models' winners (lexicographic min/max over the
    window's touches) and ``credit`` = 1/n_touches is the linear
    model's share — exact integers everywhere, one IEEE division.

    Plan: two pushed event-type filter scans, one user-keyed join
    bounded by per-user activity × the time window, one grouped
    min/max/count per conversion, one keyed join back.  No windows —
    a hot user bounds a task by its own (touches × conversions), never
    by the corpus.
    """
    t = df.filter(F.col(type_col) == touch_type).select(
        F.col(user_col).alias("user_id"),
        F.col(ts_col).alias("__t_ts"),
        F.col(id_col).alias("__t_id"),
    )
    p = df.filter(F.col(type_col) == convert_type).select(
        F.col(user_col).alias("user_id"),
        F.col(ts_col).alias("__p_ts"),
        F.col(id_col).alias("__p_id"),
    )
    pairs = t.join(p, "user_id").filter(
        (
            F.struct(F.col("__t_ts"), F.col("__t_id"))
            < F.struct(F.col("__p_ts"), F.col("__p_id"))
        )
        & (
            F.unix_millis(F.col("__p_ts")) - F.unix_millis(F.col("__t_ts"))
            <= F.lit(within_ms)
        )
    )
    stats = pairs.groupBy("user_id", "__p_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_touches"),
        F.min(F.struct(F.col("__t_ts"), F.col("__t_id"))).alias("__first"),
        F.max(F.struct(F.col("__t_ts"), F.col("__t_id"))).alias("__last"),
    )
    return (
        pairs.join(stats, ["user_id", "__p_id"])
        .select(
            "user_id",
            F.col("__t_id").alias("touch_id"),
            F.col("__p_id").alias("purchase_id"),
            "n_touches",
            (
                (F.col("__t_ts") == F.col("__first.__t_ts"))
                & (F.col("__t_id") == F.col("__first.__t_id"))
            ).alias("is_first"),
            (
                (F.col("__t_ts") == F.col("__last.__t_ts"))
                & (F.col("__t_id") == F.col("__last.__t_id"))
            ).alias("is_last"),
            (F.lit(1.0) / F.col("n_touches").cast("double")).alias("credit"),
        )
    )


def funnel_max_level(
    events: DataFrame,
    user_col: str,
    type_col: str,
    ts_col: str,
    id_col: str,
    steps: list[str],
    within_ms: int,
) -> DataFrame:
    """ClickHouse ``windowFunnel`` MAX-LEVEL semantics: per user, the
    maximum step count L reachable by ANY chain of events matching
    ``steps[0..L-1]`` in strictly increasing ``(ts, id)`` order with
    the whole chain inside ``within_ms`` of its OWN first event.

    This is the re-entrant-user complement of
    :func:`funnel_counts(within_ms=)`: that one anchors at the user's
    FIRST step-1 completion (deterministic first-touch attribution);
    ClickHouse searches over ALL step-1 anchors for the deepest chain,
    so a user whose first session stalls but whose second converts
    still scores the full level.

    Plan: every step-1 event is an anchor; each later step advances
    every live anchor to its EARLIEST qualifying next event (greedy —
    optimal for a fixed anchor by the exchange argument: taking the
    lexicographic-min qualifying event never forecloses a longer
    chain, so greedy-per-anchor ∨ anchors ≡ the existence optimum,
    which is exactly what the slot's oracle states as independent
    k-way EXISTS joins).  Each advance is one user-keyed join of the
    anchor frame (user × live anchors) against the step's pushed-
    filter scan plus a map-side-combined min — shuffles key on the
    high-cardinality user column.  Per-user cost is anchors ×
    step-events (the windowFunnel cost model everywhere); the time
    bound prunes anchors as it advances.

    Returns (user_id, level INT) for every user with >= 1 step-1
    event; level in [1, len(steps)].
    """
    if len(steps) < 2:
        raise ValueError("a funnel needs at least 2 steps")
    at = F.struct(F.col(ts_col), F.col(id_col))
    user = F.col(user_col)
    frontier = (
        events.filter(F.col(type_col) == steps[0])
        .select(
            user.alias("user_id"),
            at.alias("__at"),
            F.unix_millis(F.col(ts_col)).alias("__a_ms"),
        )
        # anchor identity = the step-1 event itself; __at advances
        .withColumn("__anchor", F.col("__at"))
    )
    reached = [frontier.select("user_id").distinct()
               .select("user_id", F.lit(1).alias("level"))]
    for i, step in enumerate(steps[1:], start=2):
        ev = events.filter(F.col(type_col) == step).select(
            user.alias("user_id"),
            at.alias("__e"),
            F.unix_millis(F.col(ts_col)).alias("__e_ms"),
        )
        frontier = (
            frontier.join(ev, "user_id")
            .filter(
                (F.col("__e") > F.col("__at"))
                & (F.col("__e_ms") <= F.col("__a_ms") + within_ms)
            )
            .groupBy("user_id", "__anchor", "__a_ms")
            .agg(F.min("__e").alias("__at"))
        )
        # same revert as funnel_counts: lineage-truncate each frontier
        # once at build instead of racing lazy caches under the sink
        frontier = frontier.localCheckpoint(eager=False)
        reached.append(
            frontier.select("user_id").distinct()
            .select("user_id", F.lit(i).alias("level"))
        )
    out = reached[0]
    for r in reached[1:]:
        out = out.unionByName(r)
    return out.groupBy("user_id").agg(
        F.max("level").cast("int").alias("level")
    )
