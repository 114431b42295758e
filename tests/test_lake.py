"""Lake write-path behavior: partition pruning reaches the scan,
file sizing is honored, compaction preserves data."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from mongo2mysql_spark.sources.lake import (
    compact_parquet,
    parquet_files,
    write_partitioned,
)
from mongo2mysql_spark.sources.parquet import load_table

SF = "/root/testdata/sf0.001"


def test_partitioned_write_prunes_on_read(spark):
    """A filter on the partition column must hit PartitionFilters (whole
    directories skipped at plan time), not a post-scan Filter only."""
    orders = load_table(spark, SF, "orders")
    with tempfile.TemporaryDirectory() as tmp:
        path = os.path.join(tmp, "orders_by_status")
        write_partitioned(
            orders, path, ["o_orderstatus"], sort_cols=["o_orderdate"]
        )
        back = spark.read.parquet(path).filter(F.col("o_orderstatus") == "F")
        plan = back._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan and "o_orderstatus" in plan.split(
            "PartitionFilters"
        )[1].split("]")[0]
        want = orders.filter(F.col("o_orderstatus") == "F").count()
        assert back.count() == want
        # hive layout on disk: one directory per status value
        dirs = {d for d in os.listdir(path) if d.startswith("o_orderstatus=")}
        n_statuses = orders.select("o_orderstatus").distinct().count()
        assert len(dirs) == n_statuses


def test_max_records_per_file(spark):
    orders = load_table(spark, SF, "orders")  # 1500 rows at sf0.001
    with tempfile.TemporaryDirectory() as tmp:
        path = os.path.join(tmp, "sized")
        write_partitioned(orders, path, ["o_orderstatus"], max_records_per_file=200)
        import pyarrow.parquet as pq

        for f in parquet_files(path):
            assert pq.ParquetFile(f).metadata.num_rows <= 200


def test_compaction_reduces_files_and_preserves_rows(spark):
    orders = load_table(spark, SF, "orders")
    with tempfile.TemporaryDirectory() as tmp:
        path = os.path.join(tmp, "frag")
        # simulate a fragmented incremental landing zone: 64 tiny files
        orders.repartition(64).write.parquet(path)
        assert len(parquet_files(path)) >= 32
        before = sorted(map(repr, spark.read.parquet(path).collect()))
        n_after = compact_parquet(spark, path, target_file_bytes=64 * 1024 * 1024)
        assert n_after < 8
        assert n_after == len(parquet_files(path))
        after = sorted(map(repr, spark.read.parquet(path).collect()))
        assert after == before


def test_compaction_keeps_partition_layout(spark):
    orders = load_table(spark, SF, "orders")
    with tempfile.TemporaryDirectory() as tmp:
        path = os.path.join(tmp, "part_frag")
        # fragmented partitioned landing: every task writes to every dir
        orders.repartition(16).write.partitionBy("o_orderstatus").parquet(path)
        frag = len(parquet_files(path))
        compact_parquet(
            spark, path, target_file_bytes=64 * 1024 * 1024,
            partition_cols=["o_orderstatus"],
        )
        assert len(parquet_files(path)) < frag
        dirs = {d for d in os.listdir(path) if d.startswith("o_orderstatus=")}
        assert len(dirs) == orders.select("o_orderstatus").distinct().count()
        # pruning still works after compaction
        back = spark.read.parquet(path).filter(F.col("o_orderstatus") == "F")
        assert "PartitionFilters" in back._jdf.queryExecution().executedPlan().toString()


def test_clustered_write_narrows_file_ranges(spark):
    """write_clustered (repartitionByRange + in-task sort) must produce
    files whose min/max span a narrow non-overlapping slice of the
    cluster key (what makes parquet stats selective for range reads)."""
    from mongo2mysql_spark.sources.lake import write_clustered

    li = load_table(spark, SF, "lineitem").select("l_orderkey", "l_extendedprice")
    with tempfile.TemporaryDirectory() as tmp:
        sorted_path = os.path.join(tmp, "sorted")
        write_clustered(li, sorted_path, ["l_extendedprice"], num_files=4)
        import pyarrow.parquet as pq

        files = parquet_files(sorted_path)
        assert len(files) >= 3
        global_min = li.agg(F.min("l_extendedprice")).collect()[0][0]
        global_max = li.agg(F.max("l_extendedprice")).collect()[0][0]
        spans = []
        for f in files:
            md = pq.ParquetFile(f).metadata
            col_idx = [md.schema.column(i).name for i in range(md.num_columns)].index(
                "l_extendedprice"
            )
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(col_idx).statistics
                mins.append(st.min)
                maxs.append(st.max)
            spans.append((max(maxs) - min(mins)) / (global_max - global_min))
        # average file covers well under the full value range
        assert sum(spans) / len(spans) < 0.6


def test_zorder_write_bounds_both_dims(spark):
    """Z-ordered files must cover a narrow slice of BOTH z-order columns
    (multi-dim data skipping), where single-dim range clustering leaves
    the second column's per-file span at ~the full range."""
    import pyarrow.parquet as pq

    from mongo2mysql_spark.sources.lake import write_clustered, write_zordered

    li = load_table(spark, "/root/testdata/sf0.01", "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )

    def span_frac(path: str, col: str) -> float:
        lo, hi = li.agg(F.min(col), F.max(col)).collect()[0]
        fracs = []
        for f in parquet_files(path):
            md = pq.ParquetFile(f).metadata
            idx = [md.schema.column(i).name for i in range(md.num_columns)].index(col)
            stats = [md.row_group(rg).column(idx).statistics for rg in range(md.num_row_groups)]
            fracs.append((max(s.max for s in stats) - min(s.min for s in stats)) / (hi - lo))
        return sum(fracs) / len(fracs)

    with tempfile.TemporaryDirectory() as tmp:
        zpath = os.path.join(tmp, "zorder")
        write_zordered(li, zpath, ["l_orderkey", "l_partkey"], num_files=16)
        assert len(parquet_files(zpath)) >= 8
        # each file covers a bounded rectangle: ~1/4 of each dim for 16 files
        assert span_frac(zpath, "l_orderkey") < 0.5
        assert span_frac(zpath, "l_partkey") < 0.5
        # round trip preserves the data
        assert spark.read.parquet(zpath).count() == li.count()

        cpath = os.path.join(tmp, "range1d")
        write_clustered(li, cpath, ["l_orderkey"], num_files=16)
        assert span_frac(cpath, "l_orderkey") < 0.15  # sharper on its one dim
        assert span_frac(cpath, "l_partkey") > 0.8    # blind on the other


def test_zorder_key_rejects_overflow(spark):
    from mongo2mysql_spark.sources.lake import add_zorder_key

    li = load_table(spark, SF, "lineitem")
    try:
        add_zorder_key(li, ["l_orderkey"] * 5, bits=16)
        raise AssertionError("5×16 bits must be rejected")
    except ValueError:
        pass


def test_merge_into_partitioned_touches_only_affected_dirs(spark):
    """CDC merge must replace-by-key inside touched partitions, append
    new keys, and leave every untouched partition's files byte-for-byte
    alone (same inodes — never read or rewritten)."""
    from mongo2mysql_spark.sources.lake import merge_into_partitioned

    orders = load_table(spark, SF, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    with tempfile.TemporaryDirectory() as tmp:
        path = os.path.join(tmp, "orders")
        write_partitioned(orders, path, ["o_orderstatus"])
        before = {f: os.stat(f).st_ino for f in parquet_files(path)}
        n0 = spark.read.parquet(path).count()

        # updates: bump price of 5 existing 'F' orders, add 2 new keys
        some = [r["o_orderkey"] for r in orders.filter(F.col("o_orderstatus") == "F")
                .orderBy("o_orderkey").limit(5).collect()]
        upd = spark.createDataFrame(
            [(k, 999.5, "F") for k in some] + [(10**9 + i, 1.5, "F") for i in range(2)],
            "o_orderkey bigint, o_totalprice double, o_orderstatus string",
        )
        touched = merge_into_partitioned(spark, path, upd, ["o_orderkey"], "o_orderstatus")
        assert touched == ["F"]

        back = spark.read.parquet(path)
        assert back.count() == n0 + 2
        got = {r["o_orderkey"]: r["o_totalprice"]
               for r in back.filter(F.col("o_orderkey").isin(some + [10**9, 10**9 + 1])).collect()}
        assert all(got[k] == 999.5 for k in some)
        assert got[10**9] == 1.5 and got[10**9 + 1] == 1.5
        # untouched partitions: identical files, same inodes
        after = {f: os.stat(f).st_ino for f in parquet_files(path)}
        for f, ino in before.items():
            if "o_orderstatus=F" not in f:
                assert after.get(f) == ino, f
        # idempotence: re-merging the same batch changes nothing
        merge_into_partitioned(spark, path, upd, ["o_orderkey"], "o_orderstatus")
        assert spark.read.parquet(path).count() == n0 + 2


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


def test_versioned_table_time_travel_rollback_vacuum(spark, tmp_path):
    """Versioned parquet table: snapshot isolation (a reader pinned to
    v0 is untouched by later commits), append/overwrite semantics per
    version, rollback restores an old file set as a NEW version, vacuum
    removes only unreferenced data dirs, and snapshot_diff works across
    two versions without copying."""
    import os

    from pyspark.sql import functions as F

    from mongo2mysql_spark.operators.diffing import snapshot_diff_summary
    from mongo2mysql_spark.sources.versioned import (
        commit,
        current_version,
        read_version,
        rollback,
        vacuum,
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
    summary = {
        r["status"]: r["n"]
        for r in snapshot_diff_summary(
            read_version(spark, table, 1), read_version(spark, table, 2), ["id"]
        ).collect()
    }
    # id=0: 0*2 == 0*3, genuinely unchanged
    assert summary["removed"] == 100 and summary["changed"] == 49
    assert summary["unchanged"] == 1

    # rollback to v1 is a new version with v1's content
    assert rollback(table, 1) == 3
    assert read_version(spark, table).count() == 150
    assert read_version(spark, table, 2).count() == 50  # history intact

    # vacuum keeping the last 2 versions (v2, v3): v0/v1 manifests go,
    # but v3 (rollback) references v0+v1 data dirs, so only the
    # overwrite commit's dir that v2 references is kept via v2... all
    # referenced -> nothing removed with keep_last=2
    removed = vacuum(table, keep_last=2)
    assert removed == []
    assert read_version(spark, table).count() == 150
    # drop everything but the head: v2's dir becomes unreferenced
    removed = vacuum(table, keep_last=1)
    assert len(removed) == 1
    assert read_version(spark, table).count() == 150
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        read_version(spark, table, 0)


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


def test_versioned_manifest_compaction_bounds_file_count(spark, tmp_path):
    """Append commits grow the manifest one entry per data file; compact
    rewrites the head as a single commit whose manifest references only
    the fresh files, content and history both preserved."""
    from mongo2mysql_spark.sources.versioned import (
        _load_manifest,
        commit,
        compact,
        current_version,
        read_version,
    )

    table = str(tmp_path / "t")
    for i in range(4):
        commit(
            spark.range(i * 10, (i + 1) * 10).repartition(3),
            table,
            mode="append" if i else "overwrite",
        )
    head = current_version(table)
    before = _load_manifest(table, head)["files"]
    assert len(before) >= 8  # 4 commits x >=2 files each

    v = compact(spark, table)
    after = _load_manifest(table, v)["files"]
    assert len(after) < len(before)
    assert len({f.split("/")[1] for f in after}) == 1  # one commit dir
    # content identical, history still resolvable
    rows = lambda df: sorted(r["id"] for r in df.collect())  # noqa: E731
    assert rows(read_version(spark, table, v)) == rows(read_version(spark, table, head))
    assert rows(read_version(spark, table, 0)) == list(range(10))


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


def test_bloom_index_skips_files_on_point_lookup(spark, tmp_path):
    """Bloom file skipping: a point lookup on a clustered key opens a
    strict subset of files, returns exactly the full-scan answer, and
    an absent key touches (almost) nothing — with zero false negatives
    by construction."""
    from pyspark.sql import functions as F

    from mongo2mysql_spark.sources.lake import (
        parquet_files,
        read_with_bloom_skip,
        write_bloom_index,
        write_clustered,
    )

    path = str(tmp_path / "tbl")
    df = spark.range(0, 2000).select(
        F.col("id"), (F.col("id") % 100).alias("k"), (F.col("id") * 7).alias("v")
    )
    # cluster on k so each key lands in few files
    write_clustered(df, path, ["k"], num_files=8)
    n_files = len(parquet_files(path))
    assert n_files >= 4

    meta = write_bloom_index(spark, path, "k")
    assert meta["n_files"] == n_files

    # sidecar must be invisible to plain readers
    assert spark.read.parquet(path).count() == 2000

    got, report = read_with_bloom_skip(spark, path, "k", 42)
    expect = sorted(r.id for r in df.filter("k = 42").collect())
    assert sorted(r.id for r in got.collect()) == expect
    assert report["n_files_total"] == n_files
    assert 1 <= report["n_files_read"] < n_files

    # absent key: no false negatives to worry about, near-zero reads
    got2, report2 = read_with_bloom_skip(spark, path, "k", 12345)
    assert got2.count() == 0
    assert report2["n_files_read"] <= 1  # FP allowance


def test_bloom_index_python_probe_parity(spark):
    """The driver-side probe hash must equal the Spark-side position
    expression for int and string keys — the no-false-negative
    guarantee rides on this."""
    from pyspark.sql import functions as F

    from mongo2mysql_spark.operators.bloom import bloom_position
    from mongo2mysql_spark.sources.lake import _bloom_positions_py

    m, k = 1 << 16, 3
    vals = [0, 42, 999999, "site3.example.com", "a b c"]
    df = spark.createDataFrame([(str(v),) for v in vals], "x string")
    spark_pos = df.select(
        "x", *[bloom_position(F.col("x"), j, m).alias(f"p{j}") for j in range(k)]
    ).collect()
    for row in spark_pos:
        v = row.x
        # int-typed keys stringify identically on both sides
        expected = _bloom_positions_py(v, k, m)
        assert [row.p0, row.p1, row.p2] == expected


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
