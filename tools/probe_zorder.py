"""Z-order layout probe (r12): measure the ACTUAL bytes/files a
selective scan reads from parquet written in z-clustered vs
linear-clustered vs unclustered layouts — bytes measured through the
UI REST API (scan input metrics come from the stage's inputBytes,
which parquet row-group/file pruning reduces).

The gated 'zorder' branch hashes the zone-map GEOMETRY (bucket boxes
+ prune verdicts); this probe closes the loop to the physical scan:
the same lineitem data written three ways, the same two predicates
run against each, `inputBytes` read from the status API.  Predicates:
a 2-D box (partkey x suppkey) and the suppkey-only predicate linear
layouts cannot prune.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from mongo2mysql_spark.session import build_session  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
N_FILES = 64


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
    ib = 0
    for s in _rest(spark, "/stages"):
        if s["stageId"] in stage_ids and s["status"] == "COMPLETE":
            ib += s.get("inputBytes", 0)
    return {
        "wall_s": round(wall, 2),
        "input_mb": round(ib / 1e6, 2),
        "out_rows": out_rows,
    }


def main() -> None:
    spark = build_session(
        app_name="probe-zorder",
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.showConsoleProgress": "false",
            # one row group per file so file-level min/max is the
            # pruning unit the layouts differentiate
            "spark.sql.files.maxPartitionBytes": "16m",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    from mongo2mysql_spark.operators.zorder import (
        cluster_by_hilbert,
        cluster_by_z,
    )
    from mongo2mysql_spark.sources.parquet import load_table

    li = load_table(spark, SF_DIR, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice"
    )
    dom = li.agg(
        F.max("l_partkey").alias("mp"), F.max("l_suppkey").alias("ms")
    ).first()
    # range-normalize to 10 bits (the same recipe as z_bucket_stats)
    nli = li.select(
        "*",
        ((F.col("l_partkey") * 1024) / (int(dom["mp"]) + 1))
        .cast("long")
        .alias("npk"),
        ((F.col("l_suppkey") * 1024) / (int(dom["ms"]) + 1))
        .cast("long")
        .alias("nsk"),
    )
    work = tempfile.mkdtemp(prefix="probe_zorder_")
    layouts = {
        "zorder": cluster_by_z(nli, ["npk", "nsk"], bits=10,
                               n_files=N_FILES),
        "hilbert": cluster_by_hilbert(nli, ["npk", "nsk"], bits=10,
                                      n_files=N_FILES),
        "linear": nli.repartitionByRange(N_FILES, "l_partkey")
        .sortWithinPartitions("l_partkey"),
        "unclustered": nli.repartition(N_FILES),
    }
    paths = {}
    for name, df in layouts.items():
        p = os.path.join(work, name)
        df.drop("npk", "nsk").write.parquet(p)
        paths[name] = p

    preds = {
        "box2d": (F.col("l_partkey").between(20, 1500)
                  & F.col("l_suppkey").between(2, 70)),
        "supp_only": F.col("l_suppkey").between(2, 70),
    }
    results = []
    for pname, pred in preds.items():
        for lname, p in paths.items():
            df = spark.read.parquet(p)
            m = measure(
                spark, f"{lname}:{pname}",
                lambda d=df, pr=pred: d.filter(pr)
                .agg(F.count(F.lit(1)))
                .collect()[0][0],
            )
            row = {"layout": lname, "predicate": pname, **m}
            results.append(row)
            print(json.dumps(row), flush=True)

    print("\n| predicate | layout | input MB | out rows | wall s |")
    print("|---|---|---|---|---|")
    for r in results:
        print(f"| {r['predicate']} | {r['layout']} | {r['input_mb']} |"
              f" {r['out_rows']:,} | {r['wall_s']} |")
    shutil.rmtree(work, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
