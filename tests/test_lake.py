"""Lake and table-layout behavior: training shards, SCD2 history,
versioned tables, the IVF store's partition-pruned probe."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from mongo2mysql_spark.sources.lake import parquet_files
from mongo2mysql_spark.sources.parquet import load_table

SF = "/root/testdata/sf0.001"


def test_training_shards_shuffle(spark):
    """write_training_shards: deterministic permutation, uniform shards,
    rank-ordered rows inside every file, DuckDB-mirrored assignment."""
    import duckdb

    from mongo2mysql_spark.operators.sampling import shuffle_shard, sql_shuffle_shard
    from mongo2mysql_spark.sources.lake import write_training_shards

    docs = load_table(spark, SF, "documents")
    n = docs.count()
    with tempfile.TemporaryDirectory() as tmp:
        path = os.path.join(tmp, "shards")
        write_training_shards(docs, path, "doc_id", n_shards=8, salt="s1")
        back = spark.read.parquet(path)
        assert back.count() == n
        assert {d for d in os.listdir(path) if d.startswith("shard=")} == {
            f"shard={i}" for i in range(8)
        }
        # balance: no shard holds more than 2x the mean
        counts = [r["c"] for r in back.groupBy("shard").agg(F.count("*").alias("c")).collect()]
        assert max(counts) < 2 * (n / 8)
        # every file is internally ordered by shuffle_rank (training
        # readers stream files sequentially)
        import pyarrow.parquet as pq

        for f in parquet_files(path):
            ranks = pq.read_table(f, columns=["shuffle_rank"])["shuffle_rank"].to_pylist()
            assert ranks == sorted(ranks)
        # same salt → identical assignment even from a repartitioned input
        shard2, rank2 = shuffle_shard(F.col("doc_id"), 8, "s1")
        again = docs.repartition(13).select("doc_id", shard2.alias("s"), rank2.alias("r"))
        merged = back.select("doc_id", "shard", "shuffle_rank").join(
            again, "doc_id"
        )
        assert merged.filter(
            (F.col("shard") != F.col("s")) | (F.col("shuffle_rank") != F.col("r"))
        ).count() == 0
        # cross-engine mirror
        s_sql, r_sql = sql_shuffle_shard("doc_id", 8, "s1")
        con = duckdb.connect()
        duck = con.sql(
            f"SELECT doc_id, {s_sql} AS s, {r_sql} AS r "
            f"FROM read_parquet('{SF}/documents.parquet') ORDER BY doc_id"
        ).fetchall()
        ours = {
            r["doc_id"]: (r["shard"], r["shuffle_rank"])
            for r in back.select("doc_id", "shard", "shuffle_rank").collect()
        }
        assert all(ours[d] == (s, r) for d, s, r in duck)
        # jsonl variant: same layout and assignment contract, the format
        # trainer data loaders stream
        jpath = os.path.join(tmp, "shards_jsonl")
        write_training_shards(
            docs.select("doc_id", "text"), jpath, "doc_id",
            n_shards=8, salt="s1", fmt="jsonl",
        )
        jback = spark.read.json(jpath)
        assert jback.count() == n
        assert {d for d in os.listdir(jpath) if d.startswith("shard=")} == {
            f"shard={i}" for i in range(8)
        }
        jours = {
            r["doc_id"]: (r["shard"], r["shuffle_rank"])
            for r in jback.select("doc_id", "shard", "shuffle_rank").collect()
        }
        assert jours == ours
        with pytest.raises(ValueError):
            write_training_shards(docs, jpath, "doc_id", n_shards=8, fmt="csvish")


def test_scd2_versioning_lifecycle(spark):
    """SCD2 chain over three batches: inserts open versions, changes
    close-and-reopen, no-ops change nothing, history is never touched;
    point-in-time lookup returns the version valid at each instant;
    re-applying a batch is bit-identical (idempotent)."""
    from mongo2mysql_spark.sources.scd import (
        scd2_apply,
        scd2_init,
        scd2_lookup,
    )

    snap = spark.createDataFrame(
        [("A", "us", 10), ("B", "eu", 20), ("C", "ap", 30)],
        "k string, region string, score int",
    )
    dim = scd2_init(snap, "2026-01-01 00:00:00")

    # batch 1: A changes, D is new, B is a no-op repeat
    b1 = spark.createDataFrame(
        [
            ("A", "eu", 11, "2026-02-01 00:00:00"),
            ("D", "us", 40, "2026-02-01 00:00:00"),
            ("B", "eu", 20, "2026-02-01 00:00:00"),
        ],
        "k string, region string, score int, eff string",
    )
    dim1 = scd2_apply(dim, b1, ["k"], ["region", "score"], "eff").localCheckpoint()

    rows = {(r["k"], r["valid_from"].isoformat(), r["is_current"]): r.asDict()
            for r in dim1.collect()}
    assert len(rows) == 5  # 3 originals + A's new version + D
    a_old = rows[("A", "2026-01-01T00:00:00", False)]
    assert a_old["valid_to"].isoformat() == "2026-02-01T00:00:00"
    a_new = rows[("A", "2026-02-01T00:00:00", True)]
    assert (a_new["region"], a_new["score"]) == ("eu", 11)
    assert rows[("B", "2026-01-01T00:00:00", True)]["valid_to"] is None  # no-op
    assert rows[("D", "2026-02-01T00:00:00", True)]["score"] == 40

    # idempotence: same batch again -> identical content
    dim1b = scd2_apply(dim1, b1, ["k"], ["region", "score"], "eff")
    assert sorted(map(repr, dim1.collect())) == sorted(map(repr, dim1b.collect()))

    # batch 2: A changes again; duplicate rows for one key keep the latest
    b2 = spark.createDataFrame(
        [
            ("A", "ap", 12, "2026-03-01 00:00:00"),
            ("A", "xx", 99, "2026-02-15 00:00:00"),  # superseded in-batch
        ],
        "k string, region string, score int, eff string",
    )
    dim2 = scd2_apply(dim1, b2, ["k"], ["region", "score"], "eff").localCheckpoint()
    a_versions = sorted(
        (r["valid_from"].isoformat(), r["valid_to"] and r["valid_to"].isoformat(),
         r["region"], r["is_current"])
        for r in dim2.filter("k = 'A'").collect()
    )
    assert a_versions == [
        ("2026-01-01T00:00:00", "2026-02-01T00:00:00", "us", False),
        ("2026-02-01T00:00:00", "2026-03-01T00:00:00", "eu", False),
        ("2026-03-01T00:00:00", None, "ap", True),
    ]
    # exactly one open version per key, intervals contiguous
    for k in ("A", "B", "C", "D"):
        vers = sorted(
            (r["valid_from"], r["valid_to"]) for r in dim2.filter(f"k = '{k}'").collect()
        )
        assert sum(1 for _, vt in vers if vt is None) == 1
        for (f1, t1), (f2, _) in zip(vers, vers[1:]):
            assert t1 == f2

    # point-in-time lookups bracket the A transitions
    assert scd2_lookup(dim2, "2026-01-15 00:00:00").filter("k='A'").first()["region"] == "us"
    assert scd2_lookup(dim2, "2026-02-15 00:00:00").filter("k='A'").first()["region"] == "eu"
    assert scd2_lookup(dim2, "2026-03-15 00:00:00").filter("k='A'").first()["region"] == "ap"
    # D did not exist on Jan 15
    assert scd2_lookup(dim2, "2026-01-15 00:00:00").filter("k='D'").count() == 0


def test_scd2_null_safe_change_detection(spark):
    """NULL attribute values compare null-safely: NULL->NULL is a no-op,
    NULL->value and value->NULL are real changes."""
    from mongo2mysql_spark.sources.scd import scd2_apply, scd2_init

    snap = spark.createDataFrame(
        [("A", None), ("B", "x")], "k string, attr string"
    )
    dim = scd2_init(snap, "2026-01-01 00:00:00")
    batch = spark.createDataFrame(
        [("A", None, "2026-02-01 00:00:00"), ("B", None, "2026-02-01 00:00:00")],
        "k string, attr string, eff string",
    )
    out = scd2_apply(dim, batch, ["k"], ["attr"], "eff")
    assert out.filter("k='A'").count() == 1  # NULL == NULL: no new version
    b = sorted(
        ((r["attr"], r["is_current"]) for r in out.filter("k='B'").collect()),
        key=repr,
    )
    assert set(b) == {(None, True), ("x", False)}  # value -> NULL: versioned


def test_scd2_random_batches_match_python_reference(spark):
    """Five seeded-random change batches over a small key space: the
    Spark SCD2 chain equals a step-by-step pure-Python SCD2 applied to
    the same batches (full version history, open flags, and interval
    bounds)."""
    import random

    from mongo2mysql_spark.sources.scd import scd2_apply, scd2_init

    rng = random.Random(42)
    keys = [f"k{i}" for i in range(8)]
    t0 = "2026-01-01 00:00:00"
    snap_rows = [(k, rng.randint(0, 3)) for k in keys[:5]]

    dim = scd2_init(
        spark.createDataFrame(snap_rows, "k string, v int"), t0
    ).localCheckpoint()
    # python reference: per key, list of [v, from, to_or_None]
    hist = {k: [[v, t0, None]] for k, v in snap_rows}

    for b in range(1, 6):
        eff = f"2026-0{b + 1}-01 00:00:00"
        batch_rows = [(k, rng.randint(0, 3), eff)
                      for k in rng.sample(keys, rng.randint(1, 6))]
        dim = scd2_apply(
            dim,
            spark.createDataFrame(batch_rows, "k string, v int, eff string"),
            ["k"], ["v"], "eff",
        ).localCheckpoint()
        for k, v, _ in batch_rows:
            if k not in hist:
                hist[k] = [[v, eff, None]]
            elif hist[k][-1][0] != v:
                hist[k][-1][2] = eff
                hist[k].append([v, eff, None])

    got = sorted(
        (r["k"], r["v"], r["valid_from"].isoformat(sep=" "),
         r["valid_to"].isoformat(sep=" ") if r["valid_to"] else None,
         r["is_current"])
        for r in dim.collect()
    )
    want = sorted(
        (k, v, frm, to, to is None)
        for k, versions in hist.items()
        for v, frm, to in versions
    )
    assert got == want


def test_versioned_table_time_travel_and_rollback(spark, tmp_path):
    """Versioned parquet table: snapshot isolation (a reader pinned to
    v0 is untouched by later commits), append/overwrite semantics per
    version, rollback restores an old file set as a NEW version, and
    snapshot_diff works across two versions without copying."""
    from collections import Counter

    import pytest as _pytest
    from pyspark.sql import functions as F

    from mongo2mysql_spark.operators.diffing import snapshot_diff
    from mongo2mysql_spark.sources.versioned import (
        commit,
        current_version,
        read_version,
        rollback,
    )

    table = str(tmp_path / "docs_v")
    base = spark.range(100).select("id", (F.col("id") * 2).alias("v"))
    assert commit(base, table) == 0
    assert commit(spark.range(100, 150).select("id", (F.col("id") * 2).alias("v")),
                  table, mode="append") == 1
    assert commit(spark.range(50).select("id", (F.col("id") * 3).alias("v")),
                  table, mode="overwrite") == 2
    assert current_version(table) == 2

    v0 = read_version(spark, table, 0)
    assert v0.count() == 100
    assert read_version(spark, table, 1).count() == 150
    assert read_version(spark, table).count() == 50  # latest = overwrite

    # snapshot isolation: the v0 frame still reads 100 rows after later commits
    assert v0.count() == 100

    # diff two pinned versions without copying either
    summary = Counter(
        r["status"]
        for r in snapshot_diff(
            read_version(spark, table, 1), read_version(spark, table, 2), ["id"]
        ).collect()
    )
    # id=0: 0*2 == 0*3, genuinely unchanged
    assert summary["removed"] == 100 and summary["changed"] == 49
    assert summary["unchanged"] == 1

    # rollback to v1 is a new version with v1's content
    assert rollback(table, 1) == 3
    assert read_version(spark, table).count() == 150
    assert read_version(spark, table, 2).count() == 50  # history intact
    with _pytest.raises(FileNotFoundError):
        read_version(spark, table, 9)


def test_versioned_concurrent_commit_raises(spark, tmp_path):
    """Two writers racing for the same version: exclusive manifest
    publication makes the loser raise instead of clobbering the head."""
    import json
    import os

    import pytest as _pytest

    from mongo2mysql_spark.sources.versioned import commit, read_version

    table = str(tmp_path / "race")
    commit(spark.range(10), table)
    # simulate a racing writer that published v1 between our
    # current_version() read and our manifest publication
    race = os.path.join(table, "_versions", "v1.json")
    with open(race, "w") as fh:
        json.dump({"version": 1, "parent": 0, "mode": "append",
                   "commit_id": "racer", "files": []}, fh)

    # our commit computes version 1 too -> must fail loudly
    import mongo2mysql_spark.sources.versioned as V

    orig = V.current_version
    V.current_version = lambda t: 0  # pretend we read the stale head
    try:
        with _pytest.raises(FileExistsError, match="concurrent"):
            commit(spark.range(5), table, mode="append")
    finally:
        V.current_version = orig
    # the racer's manifest is untouched and the table still reads
    assert read_version(spark, table, 0).count() == 10


def test_upsert_commits_per_batch_before_failure(spark, tmp_path):
    """write_upsert commits each executemany batch: rows written before a
    mid-partition failure are durable (the unit of progress a task retry
    resumes over — with REPLACE semantics the replay is idempotent)."""
    import functools
    import sqlite3

    import pytest as _pytest

    from mongo2mysql_spark.sources.jdbc import write_upsert

    db = str(tmp_path / "partial.db")
    conn = sqlite3.connect(db)
    # v TEXT NOT NULL: the third row's NULL violates the constraint
    conn.execute("CREATE TABLE docs (id INTEGER PRIMARY KEY, v TEXT NOT NULL)")
    conn.commit()
    conn.close()
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, None)], "id long, v string"
    ).coalesce(1).sortWithinPartitions("id")
    with _pytest.raises(Exception):
        write_upsert(
            df, "docs", functools.partial(sqlite3.connect, db), batch_size=1
        )
    conn = sqlite3.connect(db)
    got = sorted(conn.execute("SELECT id, v FROM docs").fetchall())
    conn.close()
    assert got == [(1, "a"), (2, "b")]


def test_mongodb_reader_options_sample_and_pipeline_interaction():
    """Option-building edge cases: custom sample size survives alongside
    a pushed pipeline; absent pipeline leaves no stale key."""
    from mongo2mysql_spark.sources.mongodb import reader_options

    pipeline = '[{"$match": {"kind": "doc"}}, {"$project": {"_id": 1}}]'
    opts = reader_options("mongodb://h/", "db", "c", sample_size=5, pipeline=pipeline)
    assert opts["sampleSize"] == "5"
    assert opts["aggregation.pipeline"] == pipeline
    assert "aggregation.pipeline" not in reader_options("mongodb://h/", "db", "c")


def test_ivf_store_partition_pruned_probe(spark, tmp_path):
    """sources/ivfstore: the IVF index realized as table layout.  A
    probe's cell set must reach the FileScan as a PARTITION filter
    (only the probed directories are listed/read — DataFilters stays
    empty), and serving from the store must return exactly topk_ivf
    over the raw corpus with the same centroids/nprobe."""
    from pyspark.sql import functions as F

    from mongo2mysql_spark.operators.similarity import topk_ivf
    from mongo2mysql_spark.sources.ivfstore import (
        read_centroids,
        read_probed_cells,
        topk_ivf_partitioned,
        write_ivf_store,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 5)
    path = str(tmp_path / "ivf")
    write_ivf_store(e, path, "vec_id", "embedding", centroid_stride=97)

    # self-describing store: sidecar carries the routing metadata
    assert read_centroids(spark, path).count() == e.filter(
        F.col("vec_id") % 97 == 0
    ).count()

    pruned = read_probed_cells(spark, path, [0, 97])
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    scan = next(l for l in plan.splitlines() if "FileScan" in l)
    assert "PartitionFilters: [centroid_id" in scan and " IN (0,97)" in scan
    assert "DataFilters: []" in scan, scan  # pruning, not a runtime filter
    total = spark.read.parquet(path + "/cells").count()
    assert 0 < pruned.count() < total  # probed slice only

    got = sorted(
        (r["query_id"], r["rank"], r["neighbor_id"], r["cosine"])
        for r in topk_ivf_partitioned(
            spark, path, q, "vec_id", "embedding", k=5, nprobe=2
        ).collect()
    )
    want = sorted(
        (r["query_id"], r["rank"], r["neighbor_id"], r["cosine"])
        for r in topk_ivf(
            e, q, "vec_id", "embedding", centroid_stride=97, k=5, nprobe=2
        ).collect()
    )
    assert got == want
