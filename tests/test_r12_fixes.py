"""Round-12 edge fixes (the r11 ADVICE list): the stats-served
histogram-join estimator with exactly ONE empty artifact, the
analyze_key_stats pre-multiply key clamp (BIGINT overflow on keys far
outside the declared domain), the star-form subset-label collision
check, and the attribution oracle's window constant interpolation."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

# ------------------------------------------- from_stats one-empty-side edge


def test_from_stats_one_empty_artifact_matches_on_the_fly(spark):
    """With exactly one empty ANALYZE artifact the stats-served path
    must emit the non-empty side's per-bucket n/d rows (est 0) plus
    the total — exactly what the on-the-fly estimator serves when one
    side has no rows (its zero-row edge needs BOTH sides empty); the
    old code collapsed to a single all-zero total row, under-reporting
    the non-empty side and breaking the 'output matches
    with_exact=False' contract."""
    from mongo2mysql_spark.operators.histjoin import (
        analyze_key_stats,
        hist_join_estimate,
        hist_join_estimate_from_stats,
    )

    a = spark.createDataFrame([(i % 7,) for i in range(40)], "ka long")
    b = spark.createDataFrame([], "kb long")
    lo, hi = 0, 6
    sa = analyze_key_stats(a, "ka", n_buckets=4, lo=lo, hi=hi)
    sb = analyze_key_stats(b, "kb", n_buckets=4, lo=lo, hi=hi)
    assert sb.count() == 0  # genuinely one empty artifact

    served = {
        r["bucket"]: (r["n_a"], r["d_a"], r["n_b"], r["d_b"], r["est"])
        for r in hist_join_estimate_from_stats(sa, sb).collect()
    }
    onthefly = {
        r["bucket"]: (r["n_a"], r["d_a"], r["n_b"], r["d_b"], r["est"])
        for r in hist_join_estimate(a, "ka", b, "kb", n_buckets=4).collect()
    }
    assert served == onthefly
    assert len(served) > 1  # per-bucket rows present, not one zero row
    assert served[-1][0] == 40 and served[-1][4] == 0.0
    # ...and mirrored: empty artifact on the A side
    served_rev = {
        r["bucket"]: (r["n_a"], r["d_a"], r["n_b"], r["d_b"], r["est"])
        for r in hist_join_estimate_from_stats(sb, sa).collect()
    }
    onthefly_rev = {
        r["bucket"]: (r["n_a"], r["d_a"], r["n_b"], r["d_b"], r["est"])
        for r in hist_join_estimate(b, "kb", a, "ka", n_buckets=4).collect()
    }
    assert served_rev == onthefly_rev
    assert served_rev[-1][2] == 40

    # inconsistent non-empty artifact still rejected even when the
    # other side is empty
    bad = sa.withColumn(
        "lo", F.when(F.col("bucket") == 0, F.lit(99)).otherwise(F.col("lo"))
    )
    with pytest.raises(ValueError, match="domains differ"):
        hist_join_estimate_from_stats(bad, sb)


def test_analyze_key_stats_far_out_of_domain_key_clamps_not_wraps(spark):
    """A key far outside the declared domain must land in the nearest
    EDGE bucket: the old expression multiplied first, overflowed
    BIGINT (Spark wraps silently), and the wrapped sign landed a huge
    positive key in bucket 0.  The clamp now bounds the product by
    span*n_buckets."""
    from mongo2mysql_spark.operators.histjoin import analyze_key_stats

    df = spark.createDataFrame(
        [(2**62,), (-(2**62),), (50,)], "k long"
    )
    got = {
        r["bucket"]: (r["n"], r["d"])
        for r in analyze_key_stats(df, "k", n_buckets=8, lo=0, hi=99).collect()
    }
    assert got[7] == (1, 1)  # 2^62 clamps to the top edge bucket
    assert got[0] == (1, 1)  # -2^62 clamps to bucket 0
    assert got[4] == (1, 1)  # in-domain key unchanged: 50*8 DIV 100 = 4


# ----------------------------------------------- star subset label collision


def test_star_plan_rejects_non_contiguous_label_collision(spark):
    """Star subsets are arbitrary dim subsets: dims ['a','zz','b','ab']
    collide ({a,b} and {ab} both label 'fab') even though every
    contiguous interval is unambiguous — both the Spark planner and
    the SQL generator must reject the fixture up front instead of
    emitting duplicate subset keys / duplicate CTE names."""
    from mongo2mysql_spark.operators.joinorder import (
        star_join_plan,
        star_join_plan_sql,
    )

    with pytest.raises(ValueError, match="subset labels collide"):
        star_join_plan_sql(
            ("fact", "f"),
            [("ta", "a", "k", "k"), ("tzz", "zz", "k", "k"),
             ("tb", "b", "k", "k"), ("tab", "ab", "k", "k")],
        )
    one = spark.createDataFrame([(1,)], "k long")
    with pytest.raises(ValueError, match="subset labels collide"):
        star_join_plan(
            spark, ("f", one),
            [("a", one, "k", "k"), ("zz", one, "k", "k"),
             ("b", one, "k", "k"), ("ab", one, "k", "k")],
        )
    # interval-unambiguous chain names stay accepted by the chain check
    from mongo2mysql_spark.operators.joinorder import _check_labels

    _check_labels(["a", "zz", "b", "ab"])


def test_attr_ctes_share_funnel_window_constant():
    """The attribution oracle CTEs interpolate FUNNEL_WINDOW_MS (the
    same constant the Spark branch passes) — a hardcoded ms literal
    would silently desync the restatement if the window changed."""
    from mongo2mysql_spark.queries.behavior import (
        _ATTR_CTES,
        FUNNEL_WINDOW_MS,
    )

    assert f"<= {FUNNEL_WINDOW_MS})" in _ATTR_CTES


# -------------------------------------------- upsert single-scan contract


def _sqlite_connect(path):
    import sqlite3

    return sqlite3.connect(path, timeout=30)


def test_write_upsert_partitioned_scans_upstream_once(spark, tmp_path):
    """The fragment write must not recompute the upstream lineage for
    the key-domain agg (the r11 double-scan finding): with a caller-
    supplied key_domain the input is scanned exactly once (by the
    write); without one the frame is persisted across the domain job
    and the write job — an accumulator planted in the lineage counts
    the actual row evaluations."""
    import functools
    import sqlite3

    from mongo2mysql_spark.sources.jdbc import (
        execute_ddl,
        write_upsert_partitioned,
    )

    n_rows = 120

    def run(db_name: str, **kw) -> int:
        db = str(tmp_path / db_name)
        factory = functools.partial(_sqlite_connect, db)
        execute_ddl(
            ["CREATE TABLE t (k INTEGER PRIMARY KEY, v INTEGER)"], factory
        )
        acc = spark.sparkContext.accumulator(0)

        def bump(x):
            acc.add(1)
            return x

        rdd = spark.sparkContext.parallelize(
            [(i, i * 2) for i in range(n_rows)], 4
        ).map(bump)
        df = spark.createDataFrame(rdd, "k long, v long")
        write_upsert_partitioned(
            df, "t", "k", factory, num_fragments=2, **kw
        )
        con = sqlite3.connect(db)
        got = con.execute("SELECT count(*), min(k), max(k) FROM t").fetchone()
        con.close()
        assert got == (n_rows, 0, n_rows - 1)
        return acc.value

    # caller-supplied domain: ONE scan, no persist needed
    assert run("dom.db", key_domain=(0, n_rows - 1)) == n_rows
    # derived domain: the persist makes the agg materialize the lineage
    # once; the write reads the cache — still one evaluation per row
    assert run("nodom.db") == n_rows
    # a domain narrower than the data still lands every row (open-ended
    # edge fragments)
    assert run("narrow.db", key_domain=(40, 60)) == n_rows


# ------------------------------------------------ incremental mongo sync


@pytest.mark.slow
def test_incremental_export_reads_only_new_docs(spark, tmp_path):
    """The CDC-shaped sync (mongo2mysql_spark/sync.py): a second export
    after N new documents must READ only those N from the source
    (asserted on the fake collection's issued queries — the reference
    rewalks everything, Porter.php:508-511), re-derive child-spill rows
    only for the touched parents, and leave the sink equal to a
    from-scratch export key for key."""
    import functools
    import sqlite3

    from mongo2mysql_spark.porter import PorterConfig, SparkPorter
    from mongo2mysql_spark.sync import incremental_export, sink_high_water
    from tests.test_sinks_sources import _FakeCollection

    def doc(i):
        return {"_id": i, "v": i * 10, "tokens": [f"t{i}a", f"t{i}b"]}

    old_docs = [doc(i) for i in range(20)]
    new_docs = [doc(i) for i in range(20, 25)]
    porter = SparkPorter(spark, PorterConfig())

    def dump(db):
        con = sqlite3.connect(db)
        parent = con.execute("SELECT _id, v FROM c ORDER BY _id").fetchall()
        kids = con.execute(
            "SELECT _parentid, _index, tokens FROM `c__tokens` "
            "ORDER BY _parentid, _index"
        ).fetchall()
        con.close()
        return parent, kids

    db = str(tmp_path / "inc.db")
    factory = functools.partial(_sqlite_connect, db)
    assert sink_high_water(factory, "c") is None  # missing table edge

    # first sync: full walk ({} query), everything lands
    coll1 = _FakeCollection(old_docs)
    r1 = incremental_export(spark, coll1, "c", porter, factory,
                            batch_size=7)
    assert coll1.queries == [{}]
    assert r1["docs"] == 20 and r1["resumed_from"] is None
    assert sink_high_water(factory, "c") == 19

    # second sync after 5 new docs: reads ONLY past the high water
    coll2 = _FakeCollection(old_docs + new_docs)
    r2 = incremental_export(spark, coll2, "c", porter, factory,
                            batch_size=7)
    assert coll2.queries == [{"_id": {"$gt": 19}}]
    assert r2["docs"] == 5 and r2["resumed_from"] == 19
    assert r2["tables"] == {"c", "c__tokens"}

    # sink state == a from-scratch export of all 25 docs
    db_full = str(tmp_path / "full.db")
    factory_full = functools.partial(_sqlite_connect, db_full)
    coll3 = _FakeCollection(old_docs + new_docs)
    incremental_export(spark, coll3, "c", porter, factory_full,
                       batch_size=7)
    assert dump(db) == dump(db_full)
    parent, kids = dump(db)
    assert [r[0] for r in parent] == list(range(25))
    assert len(kids) == 25 * 2

    # idempotence: a third sync with nothing new reads zero documents
    coll4 = _FakeCollection(old_docs + new_docs)
    r3 = incremental_export(spark, coll4, "c", porter, factory,
                            batch_size=7)
    assert r3["docs"] == 0 and coll4.queries == [{"_id": {"$gt": 24}}]
    assert dump(db) == dump(db_full)
