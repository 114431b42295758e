"""The join-order EXECUTOR (operators/joinexec.py): the physical plan
must follow the DP's chosen structure (not Spark's declaration-order
default), broadcast exactly the sides the ESTIMATES say fit, and —
being an inner-join reordering — return the same multiset of rows as
the naive declaration order."""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import functions as F


@contextmanager
def _no_auto_broadcast(spark):
    """Disable size-based auto-broadcast so the ONLY broadcasts in the
    plan are the executor's estimate-derived hints."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def _logical_join_tree(df, markers: dict[str, str]):
    """The optimized logical plan's join structure as nested (left,
    right) tuples of table names — leaves identified by a column
    marker unique to each table (paths don't print in the logical
    relation's toString); single-child nodes (Project/Filter/hints)
    pass through."""

    def walk(node):
        kids = [
            node.children().apply(i)
            for i in range(node.children().size())
        ]
        if not kids:
            s = node.toString()
            for name, marker in markers.items():
                if marker in s:
                    return name
            return None
        sub = [t for t in (walk(k) for k in kids) if t is not None]
        if node.nodeName() == "Join":
            assert len(sub) == 2, f"join with {len(sub)} resolved sides"
            return (sub[0], sub[1])
        return sub[0] if len(sub) == 1 else tuple(sub)

    return walk(df._jdf.queryExecution().optimizedPlan())


def _write_chain_fixture(spark, tmp_path) -> dict[str, str]:
    """A 4-table chain planted so the cheapest plan is the BUSHY
    (a⋈b)⋈(c⋈d) — a selective head join, an explosive middle edge,
    and a selective tail join; the declaration-order left-deep plan
    would carry the exploded a⋈b⋈c intermediate."""
    rows_a = [(k,) for k in range(1, 5)]  # selective head: 4 of 40 keys
    rows_b = [(k, k) for k in range(1, 41)]
    rows_c = [(1 + (i % 40), 1 + (i % 40)) for i in range(800)]  # fan-out 20
    rows_d = [(1,)]  # highly selective tail: 1 of 40 keys
    paths = {}
    for name, rows, schema in (
        ("a", rows_a, "ka long"),
        ("b", rows_b, "kab long, kbc long"),
        ("c", rows_c, "kcb long, kcd long"),
        ("d", rows_d, "kdc long"),
    ):
        p = str(tmp_path / f"tbl_{name}")
        spark.createDataFrame(rows, schema).write.parquet(p)
        paths[name] = p
    return paths


def test_execute_chain_plan_follows_dp_structure(spark, tmp_path):
    from mongo2mysql_spark.operators.joinexec import (
        chain_plan_tree,
        execute_chain_plan,
    )
    from mongo2mysql_spark.operators.joinorder import (
        chain_join_stats,
        chain_plan_dp,
    )

    paths = _write_chain_fixture(spark, tmp_path)
    tables = [(n, spark.read.parquet(paths[n])) for n in "abcd"]
    edges = [("ka", "kab"), ("kbc", "kcb"), ("kcd", "kdc")]
    rows, est6 = chain_join_stats(tables, edges, n_buckets=8)
    est, cost, split = chain_plan_dp(rows, est6)
    names = [n for n, _ in tables]
    tree = chain_plan_tree(names, split)
    # the planted selectivities must make the chosen plan NON-left-deep
    # (otherwise this test would pass vacuously on declaration order)
    assert tree != ((("a", "b"), "c"), "d"), tree

    markers = {"a": "ka#", "b": "kab#", "c": "kcb#", "d": "kdc#"}
    with _no_auto_broadcast(spark):
        got = execute_chain_plan(tables, edges, est, split)
        # 1. physical structure == the DP's chosen tree
        assert _logical_join_tree(got, markers) == tree
        # 2. every estimated side fits the default threshold here, so
        #    every join is a broadcast hash join (no sort-merge)
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert plan.count("BroadcastHashJoin") == 3, plan
        assert "SortMergeJoin" not in plan
        # 3. broadcast_rows=0 disables every estimate-derived hint
        cold = execute_chain_plan(tables, edges, est, split,
                                  broadcast_rows=0)
        cold_plan = cold._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in cold_plan, cold_plan

        # 4. same answer as the naive declaration-order join
        naive = (
            tables[0][1]
            .join(tables[1][1], F.col("ka") == F.col("kab"))
            .join(tables[2][1], F.col("kbc") == F.col("kcb"))
            .join(tables[3][1], F.col("kcd") == F.col("kdc"))
        )
        cols = sorted(naive.columns)
        assert sorted(map(tuple, got.select(*cols).collect())) == sorted(
            map(tuple, naive.select(*cols).collect())
        )


def test_execute_snowflake_plan_structure_and_answer(spark, tmp_path):
    """The snowflake executor builds each arm as its own subtree in
    the arm's internal DP order, joins arms onto the fact in peel
    order, broadcasts arms whose ESTIMATED joined cardinality fits —
    and returns the same multiset as the naive declaration order."""
    from mongo2mysql_spark.operators.joinexec import (
        execute_snowflake_plan,
        snowflake_plan_tree,
    )
    from mongo2mysql_spark.operators.joinorder import (
        snowflake_join_stats,
        snowflake_plan_dp,
    )

    fact = spark.createDataFrame(
        [(1 + i % 50, 1 + i % 20) for i in range(400)],
        "fo long, fp long",
    )
    o = spark.createDataFrame(
        [(k, 1 + k % 10) for k in range(1, 51)], "ok long, ock long"
    )
    c = spark.createDataFrame([(k,) for k in range(1, 4)], "ck long")
    p = spark.createDataFrame([(k,) for k in range(1, 21)], "pk long")
    chains = [
        [("o", o, "fo", "ok"), ("c", c, "ock", "ck")],
        [("p", p, "fp", "pk")],
    ]
    stats = snowflake_join_stats(("f", fact), chains, n_buckets=4)
    dp = snowflake_plan_dp(stats)
    tree = snowflake_plan_tree("f", [["o", "c"], ["p"]], dp)

    markers = {"f": "fo#", "o": "ok#", "c": "ck#", "p": "pk#"}
    with _no_auto_broadcast(spark):
        got = execute_snowflake_plan(("f", fact), chains, stats, dp)
        assert _logical_join_tree(got, markers) == tree
        plan = got._jdf.queryExecution().executedPlan().toString()
        # every arm (and the o⋈c internal join) fits the threshold
        assert plan.count("BroadcastHashJoin") == 3, plan
        naive = (
            fact.join(o, F.col("fo") == F.col("ok"))
            .join(c, F.col("ock") == F.col("ck"))
            .join(p, F.col("fp") == F.col("pk"))
        )
        cols = sorted(naive.columns)
        assert sorted(map(tuple, got.select(*cols).collect())) == sorted(
            map(tuple, naive.select(*cols).collect())
        )
        # an arm past the threshold is NOT broadcast as a unit
        tight = execute_snowflake_plan(("f", fact), chains, stats, dp,
                                       broadcast_rows=10)
        tplan = tight._jdf.queryExecution().executedPlan().toString()
        assert tplan.count("BroadcastHashJoin") < 3, tplan
