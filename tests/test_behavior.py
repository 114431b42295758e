"""Behavioral analytics (operators/behavior): funnel ordering
semantics, retention cohort math, transition normalization.  The
cross-engine hash is pinned by test_oracle (events_funnel_retention);
these pin the semantics on planted micro-fixtures."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from mongo2mysql_spark.operators.behavior import (
    event_transitions,
    funnel_counts,
    retention_cohorts,
)

SCHEMA = "event_id bigint, ts timestamp, user_id bigint, event_type string"


def _ev(spark, rows):
    return spark.createDataFrame(
        [(i, datetime(2024, 1, d, h), u, t) for i, (d, h, u, t) in enumerate(rows)],
        SCHEMA,
    )


def test_funnel_requires_strict_order(spark):
    rows = [
        # user 1: signup then view -> reaches step 2
        (1, 1, 1, "signup"),
        (1, 2, 1, "view"),
        # user 2: view BEFORE signup only -> reaches step 1, not 2
        (1, 1, 2, "view"),
        (1, 2, 2, "signup"),
        # user 3: signup only
        (2, 1, 3, "signup"),
    ]
    got = {
        r.step: r
        for r in funnel_counts(
            _ev(spark, rows), "user_id", "event_type", "ts", "event_id",
            ["signup", "view"],
        ).collect()
    }
    assert got[1].users == 3 and got[1].denom is None and got[1].rate is None
    assert got[2].users == 1 and got[2].denom == 3
    assert got[2].rate == 1.0 / 3.0


def test_funnel_tie_breaks_on_event_id(spark):
    # same timestamp: the view (higher event_id) counts as AFTER the
    # signup under (ts, id) lexicographic order
    df = spark.createDataFrame(
        [
            (10, datetime(2024, 1, 1, 1), 1, "signup"),
            (11, datetime(2024, 1, 1, 1), 1, "view"),
            # user 2 gets the view with a LOWER id at the same instant
            (21, datetime(2024, 1, 1, 1), 2, "signup"),
            (20, datetime(2024, 1, 1, 1), 2, "view"),
        ],
        SCHEMA,
    )
    got = {
        r.step: r.users
        for r in funnel_counts(
            df, "user_id", "event_type", "ts", "event_id", ["signup", "view"]
        ).collect()
    }
    assert got == {1: 2, 2: 1}


def test_funnel_multistep_chain(spark):
    rows = [
        (1, 1, 1, "signup"), (1, 2, 1, "view"), (1, 3, 1, "purchase"),
        (1, 1, 2, "signup"), (1, 2, 2, "purchase"), (1, 3, 2, "view"),
    ]
    got = {
        r.step: r.users
        for r in funnel_counts(
            _ev(spark, rows), "user_id", "event_type", "ts", "event_id",
            ["signup", "view", "purchase"],
        ).collect()
    }
    # user 2's purchase precedes their view -> drops at step 3
    assert got == {1: 2, 2: 2, 3: 1}


def test_funnel_rejects_single_step(spark):
    with pytest.raises(ValueError):
        funnel_counts(
            _ev(spark, [(1, 1, 1, "signup")]),
            "user_id", "event_type", "ts", "event_id", ["signup"],
        )


def test_retention_triangle(spark):
    # two users first seen in week of Jan 1 (Mon), one in week of Jan 8;
    # user 1 returns in week 2, user 2 does not
    rows = [
        (1, 1, 1, "view"),   # Jan 1 (Monday) -> cohort 2024-01-01
        (9, 1, 1, "view"),   # Jan 9 -> offset 1
        (2, 1, 2, "view"),   # cohort 2024-01-01
        (8, 1, 3, "view"),   # Jan 8 -> cohort 2024-01-08
    ]
    got = {
        (str(r.cohort_week), r.week_offset): (r.active, r.cohort_size, r.rate)
        for r in retention_cohorts(_ev(spark, rows), "user_id", "ts").collect()
    }
    assert got[("2024-01-01", 0)] == (2, 2, 1.0)
    assert got[("2024-01-01", 1)] == (1, 2, 0.5)
    assert got[("2024-01-08", 0)] == (1, 1, 1.0)
    assert len(got) == 3


def test_transitions_counts_and_probs(spark):
    rows = [
        (1, 1, 1, "view"), (1, 2, 1, "click"), (1, 3, 1, "view"),
        (1, 4, 1, "click"),
        (1, 1, 2, "view"), (1, 2, 2, "purchase"),
    ]
    got = {
        (r.event_type, r.next_type): (r.n, r.total, r.prob)
        for r in event_transitions(
            _ev(spark, rows), "user_id", "event_type", "ts", "event_id"
        ).collect()
    }
    assert got[("view", "click")] == (2, 3, 2.0 / 3.0)
    assert got[("view", "purchase")] == (1, 3, 1.0 / 3.0)
    assert got[("click", "view")] == (1, 1, 1.0)
    assert len(got) == 3


def test_session_paths_entry_conditional_shares(spark):
    from mongo2mysql_spark.operators.behavior import session_paths

    # user 1: one session view>click; user 2: view>click; user 3:
    # view>purchase; user 4: signup (own entry point) — events minutes
    # apart so each user's pair stays inside the 30-min session gap
    rows = [
        (0, datetime(2024, 1, 1, 1, 0), 1, "view"),
        (1, datetime(2024, 1, 1, 1, 5), 1, "click"),
        (2, datetime(2024, 1, 1, 1, 0), 2, "view"),
        (3, datetime(2024, 1, 1, 1, 5), 2, "click"),
        (4, datetime(2024, 1, 1, 1, 0), 3, "view"),
        (5, datetime(2024, 1, 1, 1, 5), 3, "purchase"),
        (6, datetime(2024, 1, 1, 1, 0), 4, "signup"),
    ]
    got = {
        r.path: (r.n, r.total, r.share)
        for r in session_paths(
            spark.createDataFrame(rows, SCHEMA),
            "user_id", "event_type", "ts", "event_id",
            depth=4, k=10,
        ).collect()
    }
    # 'view' entry point has 3 sessions: 2 view>click + 1 view>purchase
    assert got["view>click"] == (2, 3, 2 / 3)
    assert got["view>purchase"] == (1, 3, 1 / 3)
    assert got["signup"] == (1, 1, 1.0)


def test_session_paths_delimiter_in_event_type(spark):
    """An event type CONTAINING the '>' join delimiter must still
    attribute per-entry totals by the true first event, not by a
    re-split of the joined path (the old implementation split
    'a>b' entries into an 'a' entry point)."""
    from mongo2mysql_spark.operators.behavior import session_paths

    rows = [
        # user 1+2: sessions entering at the literal type 'a>b'
        (0, datetime(2024, 1, 1, 1, 0), 1, "a>b"),
        (1, datetime(2024, 1, 1, 1, 5), 1, "c"),
        (2, datetime(2024, 1, 1, 1, 0), 2, "a>b"),
        # user 3: a session entering at plain 'a' — a DIFFERENT entry
        # point that the path-split heuristic would have merged with
        # the 'a>b' entries above
        (3, datetime(2024, 1, 1, 1, 0), 3, "a"),
        (4, datetime(2024, 1, 1, 1, 5), 3, "b>c"),
    ]
    got = {
        (r.path, r.n, r.total, r.share)
        for r in session_paths(
            spark.createDataFrame(rows, SCHEMA),
            "user_id", "event_type", "ts", "event_id",
            depth=4, k=10,
        ).collect()
    }
    # users 1 and 3 produce the SAME joined string 'a>b>c' from
    # different type sequences (['a>b','c'] vs ['a','b>c']) — they
    # must keep separate entry-point attributions: entry 'a>b' owns
    # 2 sessions (users 1+2), entry 'a' owns 1 (user 3).
    assert got == {
        ("a>b>c", 1, 2, 0.5),   # user 1, entry 'a>b'
        ("a>b", 1, 2, 0.5),     # user 2, entry 'a>b'
        ("a>b>c", 1, 1, 1.0),   # user 3, entry 'a'
    }


def test_session_paths_gap_splits_and_depth_truncates(spark):
    from datetime import datetime

    from mongo2mysql_spark.operators.behavior import session_paths

    rows = [
        # one user, 6 rapid events -> depth-3 truncation
        (0, datetime(2024, 1, 1, 1, 0, 0), 1, "a"),
        (1, datetime(2024, 1, 1, 1, 1, 0), 1, "b"),
        (2, datetime(2024, 1, 1, 1, 2, 0), 1, "c"),
        (3, datetime(2024, 1, 1, 1, 3, 0), 1, "d"),
        # > 30 min gap -> second session
        (4, datetime(2024, 1, 1, 3, 0, 0), 1, "a"),
    ]
    df = spark.createDataFrame(rows, SCHEMA)
    got = {
        r.path: r.n
        for r in session_paths(
            df, "user_id", "event_type", "ts", "event_id", depth=3, k=10
        ).collect()
    }
    assert got == {"a>b>c": 1, "a": 1}


def test_conversion_latency_strict_after_and_ties(spark):
    """First view -> first purchase STRICTLY after it; same-ts events
    resolve by event_id (the funnel's lexicographic-min discipline);
    non-converters are absent."""
    from datetime import datetime

    from mongo2mysql_spark.operators.behavior import conversion_latency

    t0 = datetime(2024, 3, 1, 10, 0, 0)
    t1 = datetime(2024, 3, 1, 10, 0, 30)
    t2 = datetime(2024, 3, 1, 11, 0, 0)
    rows = [
        # user 1: view at t0, purchases at t1 and t2 -> latency 30s
        (1, t0, 1, "view"), (2, t1, 1, "purchase"), (3, t2, 1, "purchase"),
        # user 2: purchase BEFORE the first view only -> no conversion
        (4, t0, 2, "purchase"), (5, t1, 2, "view"),
        # user 3: purchase at the SAME ts as the view, larger id ->
        # struct (ts, id) > (ts, id_view) holds, latency 0
        (6, t0, 3, "view"), (7, t0, 3, "purchase"),
        # user 4: purchase same ts, SMALLER id -> not strictly after
        (9, t0, 4, "view"), (8, t0, 4, "purchase"),
        # user 5: views only
        (10, t0, 5, "view"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    got = {
        r.user_id: r.latency_ms
        for r in conversion_latency(
            df, "user_id", "event_type", "ts", "event_id",
            "view", "purchase",
        ).collect()
    }
    assert got == {1: 30_000, 3: 0}


def test_funnel_within_window_excludes_late_steps(spark):
    """windowFunnel bound: steps after the previous completion but
    outside the step-1 anchor window do not count; the unconstrained
    funnel still counts them."""
    from datetime import datetime, timedelta

    from mongo2mysql_spark.operators.behavior import funnel_counts

    t0 = datetime(2024, 3, 1, 10, 0, 0)
    rows = [
        # user 1 completes a->b within the hour
        (1, t0, 1, "a"), (2, t0 + timedelta(minutes=30), 1, "b"),
        # user 2 completes a->b two hours after the anchor
        (3, t0, 2, "a"), (4, t0 + timedelta(hours=2), 2, "b"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    plain = {
        r.step: r.users
        for r in funnel_counts(
            df, "user_id", "event_type", "ts", "event_id", ["a", "b"]
        ).collect()
    }
    windowed = {
        r.step: r.users
        for r in funnel_counts(
            df, "user_id", "event_type", "ts", "event_id", ["a", "b"],
            within_ms=3_600_000,
        ).collect()
    }
    assert plain == {1: 2, 2: 2}
    assert windowed == {1: 2, 2: 1}


def test_funnel_max_level_reentrant_user_beats_first_anchor(spark):
    """The ClickHouse max-level search: a user whose FIRST step-1
    session stalls but whose SECOND converts scores the full level —
    funnel_counts(within_ms=)'s first-anchor variant undercounts that
    user by design (its documented deviation)."""
    from datetime import datetime, timedelta

    from mongo2mysql_spark.operators.behavior import (
        funnel_counts,
        funnel_max_level,
    )

    t0 = datetime(2024, 3, 1, 10, 0, 0)
    w = 3_600_000  # 1h
    rows = [
        # user 1: anchor #1 at 10:00 — 'b' never lands inside its hour;
        # anchor #2 at 13:00 converts a->b->c within the hour
        (1, t0, 1, "a"),
        (2, t0 + timedelta(hours=3), 1, "a"),
        (3, t0 + timedelta(hours=3, minutes=10), 1, "b"),
        (4, t0 + timedelta(hours=3, minutes=20), 1, "c"),
        # user 2: only a lonely step-1
        (5, t0, 2, "a"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    levels = {
        r["user_id"]: r["level"]
        for r in funnel_max_level(
            df, "user_id", "event_type", "ts", "event_id",
            ["a", "b", "c"], within_ms=w,
        ).collect()
    }
    assert levels == {1: 3, 2: 1}
    # the first-anchor variant stalls user 1 at level 1
    first_anchor = {
        r.step: r.users
        for r in funnel_counts(
            df, "user_id", "event_type", "ts", "event_id",
            ["a", "b", "c"], within_ms=w,
        ).collect()
    }
    assert first_anchor[2] == 0


def test_funnel_max_level_greedy_equals_bruteforce(spark):
    """Greedy-per-anchor == existence optimum (the exchange argument),
    pinned against a driver-side brute force over random event sets."""
    import itertools
    import random
    from datetime import datetime, timedelta

    from mongo2mysql_spark.operators.behavior import funnel_max_level

    random.seed(42)
    steps = ["a", "b", "c", "d"]
    w_ms = 45 * 60 * 1000
    t0 = datetime(2024, 5, 1)
    rows = []
    eid = 0
    for u in range(25):
        for _ in range(random.randint(1, 12)):
            rows.append(
                (
                    eid,
                    t0 + timedelta(minutes=random.randint(0, 300)),
                    u,
                    random.choice(steps),
                )
            )
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    got = {
        r["user_id"]: r["level"]
        for r in funnel_max_level(
            df, "user_id", "event_type", "ts", "event_id", steps, w_ms
        ).collect()
    }

    # brute force: max L with ANY strictly-(ts, id)-increasing chain
    # inside the window of its own first event
    by_user: dict[int, list] = {}
    for eid_, ts, u, t in rows:
        by_user.setdefault(u, []).append((ts, eid_, t))
    want = {}
    for u, evs in by_user.items():
        best = 0
        for L in range(1, len(steps) + 1):
            pools = [
                [(ts, i) for ts, i, t in evs if t == steps[j]]
                for j in range(L)
            ]
            found = False
            for combo in itertools.product(*pools):
                if all(
                    combo[j] > combo[j - 1] for j in range(1, L)
                ) and (
                    combo[-1][0] - combo[0][0]
                ).total_seconds() * 1000 <= w_ms:
                    found = True
                    break
            if found:
                best = L
            else:
                break
        if best:
            want[u] = best
    assert got == want


def test_funnel_max_level_rejects_single_step(spark):
    from mongo2mysql_spark.operators.behavior import funnel_max_level

    df = spark.createDataFrame(
        [], "event_id long, ts timestamp, user_id long, event_type string"
    )
    with pytest.raises(ValueError):
        funnel_max_level(
            df, "user_id", "event_type", "ts", "event_id", ["a"], 1000
        )


def test_attribution_credit_models(spark):
    """First/last/linear attribution on a hand case: multi-touch
    shares split 1/n, the window excludes stale touches, touches after
    the conversion never credit, same-ts ties resolve by id (the
    funnel's lexicographic discipline), and every conversion's linear
    credits sum to 1."""
    from mongo2mysql_spark.operators.behavior import attribution_credit

    rows = [
        # u1: three views then a purchase; one view is outside the 1h
        # window, one view is AFTER the purchase
        (1, "u1", "view", "2024-01-01 00:00:00"),   # outside window
        (2, "u1", "view", "2024-01-01 02:30:00"),   # first in window
        (3, "u1", "view", "2024-01-01 02:45:00"),   # last in window
        (5, "u1", "purchase", "2024-01-01 03:00:00"),
        (6, "u1", "view", "2024-01-01 03:30:00"),   # after conversion
        # u2: two same-ts views -> id breaks the first/last tie
        (7, "u2", "view", "2024-01-02 00:00:00"),
        (8, "u2", "view", "2024-01-02 00:00:00"),
        (9, "u2", "purchase", "2024-01-02 00:30:00"),
        # u3: purchase with no touch -> absent
        (10, "u3", "purchase", "2024-01-03 00:00:00"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id string, event_type string, ts string"
    ).withColumn("ts", F.to_timestamp("ts"))
    got = attribution_credit(
        df, "user_id", "event_type", "ts", "event_id",
        "view", "purchase", within_ms=3_600_000,
    )
    by_touch = {(r["user_id"], r["touch_id"]): r for r in got.collect()}
    assert set(by_touch) == {("u1", 2), ("u1", 3), ("u2", 7), ("u2", 8)}
    assert by_touch[("u1", 2)]["is_first"] and not by_touch[("u1", 2)]["is_last"]
    assert by_touch[("u1", 3)]["is_last"] and not by_touch[("u1", 3)]["is_first"]
    assert by_touch[("u1", 2)]["credit"] == 0.5
    # same-ts tie: min id is first, max id is last
    assert by_touch[("u2", 7)]["is_first"] and not by_touch[("u2", 7)]["is_last"]
    assert by_touch[("u2", 8)]["is_last"] and not by_touch[("u2", 8)]["is_first"]
    # linear credits sum to 1 per conversion
    sums = {
        r["purchase_id"]: r["s"]
        for r in got.groupBy("purchase_id").agg(F.sum("credit").alias("s")).collect()
    }
    assert sums == {5: 1.0, 9: 1.0}


def test_attr_ctes_share_funnel_window_constant():
    """The attribution oracle CTEs interpolate FUNNEL_WINDOW_MS (the
    same constant the Spark branch passes) — a hardcoded ms literal
    would silently desync the restatement if the window changed."""
    from mongo2mysql_spark.queries.behavior import (
        _ATTR_CTES,
        FUNNEL_WINDOW_MS,
    )

    assert f"<= {FUNNEL_WINDOW_MS})" in _ATTR_CTES
