"""Z-order clustering (operators/zorder.py): Morton-key and Hilbert
bit parity against python references and DuckDB, the clustered write's
tight per-partition boxes, the zone-map pruning win of z and Hilbert
over linear, and validation."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from tests.oracle_utils import compare


def _ref_z(vals, bits: int) -> int:
    n = len(vals)
    z = 0
    for b in range(bits):
        for j, v in enumerate(vals):
            z |= ((v >> b) & 1) << (b * n + j)
    return z


def test_z_value_matches_reference_and_duckdb(spark, tmp_path):
    from mongo2mysql_spark.operators.zorder import sql_z_value, z_value

    rows = [((i * 131) % 1024, (i * 577) % 1024) for i in range(300)]
    df = spark.createDataFrame(rows, "a long, b long")
    p = str(tmp_path / "zv")
    df.write.parquet(p)
    got = spark.read.parquet(p).select(
        "a", "b", z_value([F.col("a"), F.col("b")], 10).alias("z")
    )
    for r in got.collect():
        assert r["z"] == _ref_z((r["a"], r["b"]), 10)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW zv AS SELECT * FROM read_parquet('{p}/*.parquet')"
    )
    sql = (
        f"SELECT a, b, {sql_z_value(['a', 'b'], 10)} AS z FROM zv"
    )
    assert not compare(got, con, sql)


def test_cluster_by_z_bounds_both_columns(spark):
    """After cluster_by_z every partition's min/max box is tight in
    BOTH columns (quadtree cells), while a linear sort leaves the
    second column's span full-range in every partition."""
    from mongo2mysql_spark.operators.zorder import cluster_by_z

    rows = [(x, y) for x in range(64) for y in range(64)]
    df = spark.createDataFrame(rows, "x long, y long")
    clustered = cluster_by_z(df, ["x", "y"], bits=6, n_files=16)
    boxes = (
        clustered.select(
            F.spark_partition_id().alias("p"), "x", "y"
        )
        .groupBy("p")
        .agg(
            (F.max("x") - F.min("x")).alias("sx"),
            (F.max("y") - F.min("y")).alias("sy"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    )
    assert sum(r["n"] for r in boxes) == 64 * 64
    # every partition bounds BOTH dimensions well under the full range
    assert max(r["sx"] for r in boxes) <= 31
    assert max(r["sy"] for r in boxes) <= 31
    linear = (
        df.repartitionByRange(16, "x")
        .select(F.spark_partition_id().alias("p"), "y")
        .groupBy("p")
        .agg((F.max("y") - F.min("y")).alias("sy"))
        .collect()
    )
    assert min(r["sy"] for r in linear) == 63  # y unbounded everywhere


def test_layout_bucket_stats_equals_separate_union(spark, tmp_path):
    """The fused single-pass layout_bucket_stats (one scan, all three
    layouts) is row-identical to the union of the separate z/linear
    and Hilbert restatements in DuckDB, prune_counts matches its
    restatement over them, and the pruning win holds on the 2-D box:
    z reads fewer buckets than linear, Hilbert no more than z."""
    from mongo2mysql_spark.operators.zorder import (
        layout_bucket_stats,
        prune_counts,
        sql_hilbert_bucket_stats,
        sql_prune_counts,
        sql_z_bucket_stats,
    )

    rows = [((i * 131) % 1024, (i * 577) % 1024) for i in range(2000)]
    df = spark.createDataFrame(rows, "a long, b long")
    p = str(tmp_path / "zs")
    df.write.parquet(p)
    src = spark.read.parquet(p)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW zs AS SELECT * FROM read_parquet('{p}/*.parquet')"
    )
    fused = layout_bucket_stats(src, ["a", "b"], bits=10, n_buckets=64)
    stats_sql = (
        f"{sql_z_bucket_stats('zs', ['a', 'b'], 10, 64)}, "
        f"{sql_hilbert_bucket_stats('zs', ['a', 'b'], 10, 64)}, "
        "zall AS (SELECT * FROM zbstats UNION ALL SELECT * FROM hbstats)"
    )
    assert not compare(fused, con, f"WITH {stats_sql} SELECT * FROM zall")
    pruned = prune_counts(fused, 100, 200, 300, 400)
    prune_sql = sql_prune_counts("zall", 100, 200, 300, 400)
    assert not compare(
        pruned, con,
        f"WITH {stats_sql}, {prune_sql} SELECT * FROM zpcounts",
    )
    got = {r["layout"]: r["buckets_read"] for r in pruned.collect()}
    assert got["z"] < got["linear"], got
    assert got["hilbert"] <= got["z"], got
    with pytest.raises(ValueError, match="power of two"):
        layout_bucket_stats(df, ["a", "b"], bits=10, n_buckets=48)


def test_z_value_domain_and_arity_validation(spark):
    from mongo2mysql_spark.operators.zorder import sql_z_value, z_value

    df = spark.createDataFrame([(5000, 1)], "a long, b long")
    with pytest.raises(Exception, match="out of"):
        df.select(
            z_value([F.col("a"), F.col("b")], 10).alias("z")
        ).collect()
    with pytest.raises(ValueError, match="bits"):
        z_value([F.col("a"), F.col("b")], 32)
    with pytest.raises(ValueError, match="bits"):
        sql_z_value(["a", "b", "c"], 21)


def test_hilbert_reference_bijective_unit_step():
    """The reference walk is a bijection onto [0, 4^bits) whose
    consecutive indexes are GRID NEIGHBORS (Manhattan distance 1) —
    the locality property Morton lacks at quadrant seams."""
    from mongo2mysql_spark.operators.zorder import hilbert_ref

    b = 4
    cells = {}
    for x in range(1 << b):
        for y in range(1 << b):
            cells[hilbert_ref(x, y, b)] = (x, y)
    assert sorted(cells) == list(range(4 ** b))
    for d in range(4 ** b - 1):
        (x1, y1), (x2, y2) = cells[d], cells[d + 1]
        assert abs(x1 - x2) + abs(y1 - y2) == 1


def test_with_hilbert_matches_reference_and_duckdb(spark, tmp_path):
    from mongo2mysql_spark.operators.zorder import (
        hilbert_ref,
        sql_with_hilbert,
        with_hilbert,
    )

    rows = [((i * 131) % 256, (i * 577) % 256) for i in range(400)]
    df = spark.createDataFrame(rows, "a long, b long")
    p = str(tmp_path / "hv")
    df.write.parquet(p)
    got = with_hilbert(spark.read.parquet(p), "a", "b", 8, out="hd")
    for r in got.collect():
        assert r["hd"] == hilbert_ref(r["a"], r["b"], 8)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW hv AS SELECT * FROM read_parquet('{p}/*.parquet')"
    )
    walk = sql_with_hilbert("hv", ["a", "b"], "a", "b", 8, prefix="hw")
    assert not compare(
        got, con, f"WITH {walk} SELECT a, b, hd FROM hw9"
    )
