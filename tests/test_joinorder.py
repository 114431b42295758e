"""Selinger join-order DP from ANALYZE statistics
(operators/joinorder): estimate/cost/plan parity with the DuckDB
restatement, chain semantics, and determinism."""

from __future__ import annotations

import random

import duckdb
import pytest

from tests.oracle_utils import compare


def _chain_frames(spark, tmp_path, n_a=400, n_b=2000, n_c=6000, n_d=300):
    """A FK chain a(id) <- b(a_id, id) <- c(b_id, id) -> d(id): skewed
    fanouts so the cheapest order is not the input order."""
    random.seed(11)
    a = spark.createDataFrame([(i,) for i in range(n_a)], "a_id long")
    b = spark.createDataFrame(
        [(i, random.randint(0, n_a - 1)) for i in range(n_b)],
        "b_id long, a_ref long",
    )
    c = spark.createDataFrame(
        [(i, random.randint(0, n_b - 1), random.randint(0, n_d - 1))
         for i in range(n_c)],
        "c_id long, b_ref long, d_ref long",
    )
    d = spark.createDataFrame([(i,) for i in range(n_d)], "d_id long")
    paths = {}
    for name, df in (("ta", a), ("tb", b), ("tc", c), ("td", d)):
        p = str(tmp_path / name)
        df.write.parquet(p)
        paths[name] = p
    return (a, b, c, d), paths


def test_chain_join_plan_matches_duckdb(spark, tmp_path):
    from mongo2mysql_spark.operators.joinorder import (
        chain_join_plan,
        chain_join_plan_sql,
    )

    (a, b, c, d), paths = _chain_frames(spark, tmp_path)
    got = chain_join_plan(
        spark,
        [("a", a), ("b", b), ("c", c), ("d", d)],
        [("a_id", "a_ref"), ("b_id", "b_ref"), ("d_ref", "d_id")],
        n_buckets=8,
    )
    con = duckdb.connect()
    for name, p in paths.items():
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}/*.parquet')"
        )
    sql = chain_join_plan_sql(
        [("ta", "a"), ("tb", "b"), ("tc", "c"), ("td", "d")],
        [("a_id", "a_ref"), ("b_id", "b_ref"), ("d_ref", "d_id")],
        n_buckets=8,
    )
    assert not compare(got, con, f"WITH {sql} SELECT * FROM joplan")
    rows = {r["subset"]: r for r in got.collect()}
    # the lattice: every interval subset present, 6 composites for k=4
    assert set(rows) == {"ab", "bc", "cd", "abc", "bcd", "abcd"}
    # PK-FK chains: near-exact pairwise estimates (b has one a_ref per
    # row -> |a join b| ~ |b|)
    assert abs(rows["ab"]["est_rows"] - 2000) <= 20
    assert abs(rows["bc"]["est_rows"] - 6000) <= 600
    # cost model sanity: the full plan's cost >= its own est_rows and
    # every composite's plan names a valid split of itself
    for s, r in rows.items():
        assert r["best_cost"] >= r["est_rows"]
        left, right = r["plan"].split("=")[1].split("+")
        assert left + right == s


def test_chain_join_plan_validation_and_determinism(spark, tmp_path):
    from mongo2mysql_spark.operators.joinorder import chain_join_plan

    (a, b, c, d), _ = _chain_frames(spark, tmp_path, 50, 200, 400, 30)
    with pytest.raises(ValueError):
        chain_join_plan(spark, [("a", a)], [])
    with pytest.raises(ValueError):
        chain_join_plan(spark, [("a", a), ("a", b)], [("a_id", "a_ref")])
    one = {
        r["subset"]: (r["plan"], r["est_rows"], r["best_cost"])
        for r in chain_join_plan(
            spark, [("a", a), ("b", b), ("c", c)],
            [("a_id", "a_ref"), ("b_id", "b_ref")], n_buckets=4,
        ).collect()
    }
    two = {
        r["subset"]: (r["plan"], r["est_rows"], r["best_cost"])
        for r in chain_join_plan(
            spark, [("a", a), ("b", b), ("c", c)],
            [("a_id", "a_ref"), ("b_id", "b_ref")], n_buckets=4,
        ).collect()
    }
    assert one == two and set(one) == {"ab", "bc", "abc"}


def test_chain_join_plan_empty_bridge_table(spark, tmp_path):
    """An empty middle table zeroes every superset estimate instead of
    dividing by zero — on BOTH engines."""
    import duckdb as _duckdb

    from mongo2mysql_spark.operators.joinorder import (
        chain_join_plan,
        chain_join_plan_sql,
    )

    a = spark.createDataFrame([(i,) for i in range(10)], "a_id long")
    b = spark.createDataFrame([], "b_id long, a_ref long")
    c = spark.createDataFrame([(i, i % 7) for i in range(30)],
                              "c_id long, b_ref long")
    got = chain_join_plan(
        spark, [("a", a), ("b", b), ("c", c)],
        [("a_id", "a_ref"), ("b_id", "b_ref")], n_buckets=4,
    )
    rows = {r["subset"]: r for r in got.collect()}
    assert rows["ab"]["est_rows"] == 0 and rows["abc"]["est_rows"] == 0
    paths = {}
    for name, df in (("ea", a), ("eb", b), ("ec", c)):
        p = str(tmp_path / name)
        df.write.parquet(p)
        paths[name] = p
    con = _duckdb.connect()
    for name, p in paths.items():
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}/*.parquet')"
        )
    sql = chain_join_plan_sql(
        [("ea", "a"), ("eb", "b"), ("ec", "c")],
        [("a_id", "a_ref"), ("b_id", "b_ref")], n_buckets=4,
    )
    assert not compare(got, con, f"WITH {sql} SELECT * FROM joplan")


def test_star_join_plan_matches_duckdb_and_orders_selective_first(spark, tmp_path):
    """Star DP parity with the restatement, full dim-subset lattice,
    and the optimizer readout: the cheapest order peels the most
    selective dimension first (its intermediate shrinks every later
    prefix)."""
    import duckdb as _duckdb

    from mongo2mysql_spark.operators.joinorder import (
        star_join_plan,
        star_join_plan_sql,
    )

    random.seed(23)
    # fact: 6000 rows; dim x selective (only 10% of fact keys match),
    # dim y full match, dim z full match with duplicates (fan-out 2)
    fact = spark.createDataFrame(
        [(i, random.randint(0, 499), random.randint(0, 99),
          random.randint(0, 49)) for i in range(6000)],
        "f_id long, x_ref long, y_ref long, z_ref long",
    )
    dx = spark.createDataFrame([(i,) for i in range(50)], "x_id long")
    dy = spark.createDataFrame([(i,) for i in range(100)], "y_id long")
    dz = spark.createDataFrame(
        [(i % 50,) for i in range(100)], "z_id long"
    )
    got = star_join_plan(
        spark, ("f", fact),
        [("x", dx, "x_ref", "x_id"), ("y", dy, "y_ref", "y_id"),
         ("z", dz, "z_ref", "z_id")],
        n_buckets=8,
    )
    paths = {}
    for name, df in (("sf", fact), ("sx", dx), ("sy", dy), ("sz", dz)):
        p = str(tmp_path / name)
        df.write.parquet(p)
        paths[name] = p
    con = _duckdb.connect()
    for name, p in paths.items():
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}/*.parquet')"
        )
    sql = star_join_plan_sql(
        ("sf", "f"),
        [("sx", "x", "x_ref", "x_id"), ("sy", "y", "y_ref", "y_id"),
         ("sz", "z", "z_ref", "z_id")],
        n_buckets=8,
    )
    assert not compare(got, con, f"WITH {sql} SELECT * FROM soplan")
    rows = {r["subset"]: r for r in got.collect()}
    assert set(rows) == {"fx", "fy", "fz", "fxy", "fxz", "fyz", "fxyz"}
    # selectivity sanity: joining x keeps ~10% of fact rows, y ~100%,
    # z ~200% (fan-out 2)
    assert rows["fx"]["est_rows"] < 0.25 * 6000
    assert 0.7 * 6000 < rows["fy"]["est_rows"] < 1.3 * 6000
    assert rows["fz"]["est_rows"] > 1.5 * 6000
    # the full plan's FIRST join is the selective dim: peeling order
    # (read bottom-up) must end at fx — i.e. cost(fxyz) was built on a
    # prefix chain whose 2-subset is fx
    chain = "fxyz"
    seen = []
    while chain != "f":
        plan = rows[chain]["plan"] if chain in rows else None
        left = plan.split("=")[1].split("+")[0]
        seen.append(chain)
        chain = left
    assert seen[-1] == "fx"
    # per-subset cost >= est and plans split validly
    for s, r in rows.items():
        assert r["best_cost"] >= r["est_rows"]
        left, d = r["plan"].split("=")[1].split("+")
        assert set(left + d) == set(s) and len(left + d) == len(s)


def test_star_join_plan_validation(spark):
    from mongo2mysql_spark.operators.joinorder import (
        star_join_plan,
        star_join_plan_sql,
    )

    a = spark.createDataFrame([(1,)], "x long")
    with pytest.raises(ValueError):
        star_join_plan(spark, ("f", a), [])
    with pytest.raises(ValueError, match="collide"):
        star_join_plan_sql(
            ("t", "f"),
            [("t1", "ab", "x", "x"), ("t2", "c", "x", "x"),
             ("t3", "a", "x", "x"), ("t4", "bc", "x", "x")],
        )


def test_chain_estimates_track_true_multiway_join_sizes(spark, tmp_path):
    """The composed (floored) multi-way estimates stay within a small
    factor of the TRUE join counts on FK-shaped data — the property
    that makes the DP's plan choice meaningful, not just portable."""
    from mongo2mysql_spark.operators.joinorder import chain_join_plan

    (a, b, c, d), _ = _chain_frames(spark, tmp_path)
    rows = {
        r["subset"]: r["est_rows"]
        for r in chain_join_plan(
            spark,
            [("a", a), ("b", b), ("c", c), ("d", d)],
            [("a_id", "a_ref"), ("b_id", "b_ref"), ("d_ref", "d_id")],
            n_buckets=8,
        ).collect()
    }
    ab = a.join(b, a["a_id"] == b["a_ref"])
    abc = ab.join(c, b["b_id"] == c["b_ref"])
    abcd = abc.join(d, c["d_ref"] == d["d_id"])
    for subset, true_n in (
        ("abc", abc.count()),
        ("abcd", abcd.count()),
    ):
        est = rows[subset]
        assert true_n > 0
        # FK chains with mild skew: composed estimate within 2x
        assert 0.5 <= est / true_n <= 2.0, (subset, est, true_n)


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
