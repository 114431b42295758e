"""Priority sampling (operators/priority.py — Duffield, Lund &
Thorup, JACM 2007, derandomized through the salted-md5 hash): DuckDB
parity of sample membership / priorities / threshold / estimator
terms, repartition stability, small-group exactness, the unbiasedness
of the subset-sum estimator over the salt space, and weight-domain
enforcement."""

from __future__ import annotations

import hashlib

import duckdb
import pytest
from pyspark.sql import functions as F

from tests.oracle_utils import compare


def _ref_q(key, w: int, salt: str) -> int:
    h = int(
        hashlib.md5(f"{salt}|{key}".encode()).hexdigest()[:7], 16
    )
    return (w << 40) // (h + 1)


def _ref_estimate(items, k: int, salt: str) -> float:
    """Pure-python twin of the operator (same integer math) for the
    statistical tests — ranked by (q desc, key asc)."""
    ranked = sorted(
        ((_ref_q(key, w, salt), key, w) for key, w in items),
        key=lambda t: (-t[0], t[1]),
    )
    tau = ranked[k][0] if len(ranked) > k else 0
    return sum(
        max(w << 12, tau) for _q, _key, w in ranked[:k]
    ) / float(1 << 12)


_ITEMS = [(i, 1 + (i * 37) % 500 + (400 if i % 11 == 0 else 0))
          for i in range(120)]


def test_priority_sample_matches_duckdb(spark, tmp_path):
    from mongo2mysql_spark.operators.priority import (
        priority_sample,
        priority_sample_sql,
    )

    rows = [(i, w, "g%d" % (i % 3)) for i, w in _ITEMS]
    df = spark.createDataFrame(rows, "doc_id long, w long, grp string")
    p = str(tmp_path / "prio")
    df.write.parquet(p)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW prio AS SELECT * FROM read_parquet('{p}/*.parquet')"
    )
    got = priority_sample(
        spark.read.parquet(p), "doc_id", "w", k=10,
        group_cols=["grp"],
    )
    sql = priority_sample_sql(
        "prio", "doc_id", "w", k=10, group_cols=["grp"]
    )
    assert not compare(got, con, f"WITH {sql} SELECT * FROM prsample")
    # grouped: every group contributes exactly k rows (40 per group
    # available), threshold positive
    rws = got.collect()
    assert len(rws) == 30
    assert all(r["tau"] > 0 for r in rws)

    # ungrouped path parity too
    got_u = priority_sample(
        spark.read.parquet(p), "doc_id", "w", k=15
    )
    sql_u = priority_sample_sql("prio", "doc_id", "w", k=15)
    assert not compare(got_u, con, f"WITH {sql_u} SELECT * FROM prsample")


def test_priority_sample_repartition_stable(spark):
    from mongo2mysql_spark.operators.priority import priority_sample

    df = spark.createDataFrame(
        [(i, w) for i, w in _ITEMS], "doc_id long, w long"
    )
    a = priority_sample(df, "doc_id", "w", k=12)
    b = priority_sample(df.repartition(7), "doc_id", "w", k=12)
    assert sorted(map(tuple, a.collect())) == sorted(
        map(tuple, b.collect())
    )


def test_priority_small_group_is_exact(spark):
    """A group that fits entirely in the sample has tau = 0 and
    west = w << 12 — the estimator returns the EXACT sum."""
    from mongo2mysql_spark.operators.priority import priority_sample

    df = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 30)], "doc_id long, w long"
    )
    rows = priority_sample(df, "doc_id", "w", k=5).collect()
    assert len(rows) == 3
    assert all(r["tau"] == 0 for r in rows)
    assert sum(r["west"] for r in rows) == (10 + 20 + 30) << 12


def test_priority_estimator_unbiased_over_salts():
    """E[sum max(w, tau)] = sum w over the alpha space — the JACM
    2007 theorem, checked empirically over 400 salts with the exact
    integer arithmetic the engines run: mean within 2% for the total
    AND for an arbitrary subset (doc_id % 2 == 0), at k = 16 of 120
    (every salt's single-draw error can be large; the MEAN must not
    be)."""
    k = 16
    exact = sum(w for _i, w in _ITEMS)
    ests = [
        _ref_estimate(_ITEMS, k, f"s{t}") for t in range(400)
    ]
    mean = sum(ests) / len(ests)
    assert abs(mean - exact) / exact < 0.02, (mean, exact)
    # subset-sum: same sample, estimator restricted to the subset
    sub = {i for i, _w in _ITEMS if i % 2 == 0}
    exact_sub = sum(w for i, w in _ITEMS if i in sub)

    def est_sub(salt):
        ranked = sorted(
            ((_ref_q(i, w, salt), i, w) for i, w in _ITEMS),
            key=lambda t: (-t[0], t[1]),
        )
        tau = ranked[k][0] if len(ranked) > k else 0
        return sum(
            max(w << 12, tau)
            for _q, i, w in ranked[:k]
            if i in sub
        ) / float(1 << 12)

    mean_sub = sum(est_sub(f"s{t}") for t in range(400)) / 400
    assert abs(mean_sub - exact_sub) / exact_sub < 0.04, (
        mean_sub,
        exact_sub,
    )


def test_priority_weight_domain_enforced(spark):
    from mongo2mysql_spark.operators.priority import priority_sample

    df = spark.createDataFrame(
        [(1, 5), (2, 0)], "doc_id long, w long"
    )
    with pytest.raises(Exception, match="weight out of"):
        priority_sample(df, "doc_id", "w", k=2).collect()


def test_prio_store_fold_equals_one_shot(spark, tmp_path):
    """The streaming store (streaming/priostore.py): three disjoint
    batch folds == the one-shot sample bit for bit; replay of an
    applied (writer, epoch) is a no-op; empty store reads None."""
    from mongo2mysql_spark.operators.priority import priority_sample
    from mongo2mysql_spark.streaming.priostore import (
        prio_store_sample,
        read_prio_store,
        refresh_prio_store,
    )

    store = str(tmp_path / "store")
    import os

    os.makedirs(store)
    assert read_prio_store(spark, store) is None
    assert prio_store_sample(spark, store, k=9) is None

    rows = [(i, w, "g%d" % (i % 2)) for i, w in _ITEMS]
    df = spark.createDataFrame(rows, "doc_id long, w long, grp string")
    for r in range(3):
        assert refresh_prio_store(
            df.filter(F.col("doc_id") % 3 == r),
            store, "doc_id", "w", k=9, group_cols=["grp"],
            writer=f"w{r}", epoch=0,
        )
    # replay guard
    assert not refresh_prio_store(
        df.filter(F.col("doc_id") % 3 == 0),
        store, "doc_id", "w", k=9, group_cols=["grp"],
        writer="w0", epoch=0,
    )
    served = prio_store_sample(spark, store, k=9, group_cols=["grp"])
    one_shot = priority_sample(df, "doc_id", "w", k=9,
                               group_cols=["grp"])
    assert sorted(map(tuple, served.collect())) == sorted(
        map(tuple, one_shot.collect())
    )
    # stored state is bounded: top-(k+1) rows per group
    state = read_prio_store(spark, store)
    assert state.count() <= 2 * 10
