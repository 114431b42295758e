"""Graph-executor probe (r12): chosen vs worst join order on a SKEWED
CYCLIC graph — shuffle bytes measured through the UI REST API.

Fixture: the q5 shape at synthetic scale — customers and suppliers
each join nation (the cycle edge), orders fan out of customers,
lineitems fan out of orders and suppliers.  The nation table is tiny
but the c-n and s-n edges are very selective TOGETHER (customer and
supplier must share a nation); the DP sees that through the composed
estimates.  The worst order is the cost-MAXIMIZING split over the
SAME estimates and broadcast policy, so the gap is purely the join
order + where the cycle edge lands.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from mongo2mysql_spark.session import build_session  # noqa: E402


def _rest(spark, path: str):
    ui = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    with urllib.request.urlopen(f"{ui}/api/v1/applications/{app}{path}") as r:
        return json.load(r)


def measure(spark, label: str, action):
    sc = spark.sparkContext
    sc.setJobGroup(label, label)
    t0 = time.time()
    out_rows = action()
    wall = time.time() - t0
    sc.setJobGroup("", "")
    jobs = [j for j in _rest(spark, "/jobs") if j.get("jobGroup") == label]
    stage_ids = {s for j in jobs for s in j["stageIds"]}
    sw = sr = 0
    for s in _rest(spark, "/stages"):
        if s["stageId"] in stage_ids and s["status"] == "COMPLETE":
            sw += s.get("shuffleWriteBytes", 0)
            sr += s.get("shuffleReadBytes", 0)
    return {
        "wall_s": round(wall, 2),
        "shuffle_write_mb": round(sw / 1e6, 2),
        "shuffle_read_mb": round(sr / 1e6, 2),
        "out_rows": out_rows,
    }


def main() -> None:
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "24g")
    spark = build_session(
        app_name="probe-graphexec",
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    from mongo2mysql_spark.operators.joinexec import (
        execute_graph_plan,
        graph_plan_tree,
    )
    from mongo2mysql_spark.operators.joinorder import (
        graph_adjacency,
        graph_connected_masks,
        graph_join_stats,
        graph_plan_dp,
        graph_splits,
    )

    # nation keys are HASH-decorrelated (linear maps of a shared
    # residue make the cycle predicate a single congruence — either
    # everything or nothing matches); the nation table keeps only 5 of
    # the 50 nation ids, so the two cycle edges are jointly selective
    # and the order the DP picks decides whether that selectivity
    # lands before or after the 5M-row fan-out
    n_nat, n_cust, n_ord, n_li, n_sup = 50, 100_000, 1_000_000, 5_000_000, 10_000
    c = spark.range(1, n_cust + 1).select(
        F.col("id").alias("ck"),
        (F.pmod(F.hash(F.col("id")), F.lit(n_nat)) + 1).alias("cnk"),
    )
    o = spark.range(1, n_ord + 1).select(
        F.col("id").alias("ok"), (F.col("id") % n_cust + 1).alias("ock")
    )
    li = spark.range(n_li).select(
        (F.col("id") % n_ord + 1).alias("lok"),
        (F.col("id") % n_sup + 1).alias("lsk"),
    )
    s = spark.range(1, n_sup + 1).select(
        F.col("id").alias("sk"),
        (F.pmod(F.hash(F.col("id") * 977), F.lit(n_nat)) + 1).alias("snk"),
    )
    n = spark.range(1, 6).select(F.col("id").alias("nk"))
    tables = [("c", c), ("o", o), ("l", li), ("s", s), ("n", n)]
    edges = [
        (0, 1, "ck", "ock"),
        (1, 2, "ok", "lok"),
        (2, 3, "lsk", "sk"),
        (0, 4, "cnk", "nk"),
        (3, 4, "snk", "nk"),
    ]
    epairs = [(u, v) for u, v, _ku, _kv in edges]
    rows, est6 = graph_join_stats(tables, edges, n_buckets=16)
    est, cost, split = graph_plan_dp(rows, epairs, est6)

    # worst order: the cost-MAXIMIZING split over the same estimates
    adj = graph_adjacency(len(tables), epairs)
    wcost: dict = {}
    wsplit: dict = {}
    for mask in graph_connected_masks(len(tables), epairs):
        if mask & (mask - 1) == 0:
            wcost[mask] = 0
            continue
        worst, worst_s1 = None, None
        for s1, s2 in graph_splits(mask, epairs, adj):
            cc = wcost[s1] + wcost[s2] + est[mask]
            if worst is None or cc > worst:
                worst, worst_s1 = cc, s1
        wcost[mask] = worst
        wsplit[mask] = worst_s1

    names = [nm for nm, _ in tables]
    results = []
    for tag, sp in (("chosen", split), ("worst", wsplit)):
        m = measure(
            spark, f"graphexec_{tag}",
            lambda spn=sp: execute_graph_plan(tables, edges, est, spn)
            .groupBy().count().collect()[0][0],
        )
        row = {"family": f"graphexec_{tag}", "scale": 1,
               "rows_in": sum(rows),
               "tree": str(graph_plan_tree(names, sp)), **m}
        results.append(row)
        print(json.dumps(row), flush=True)

    print("\n| family | rows in | wall s | shuffle write MB |"
          " shuffle read MB | out rows | tree |")
    print("|---|---|---|---|---|---|---|")
    for r in results:
        print(f"| {r['family']} | {r['rows_in']:,} | {r['wall_s']} |"
              f" {r['shuffle_write_mb']} | {r['shuffle_read_mb']} |"
              f" {r['out_rows']:,} | {r['tree']} |")
    spark.stop()


if __name__ == "__main__":
    main()
