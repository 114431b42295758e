"""The porter's ``_num`` operator (``operators.sequence.Numbering``):
one persisted range partitioning and one aggregation per table family.

It must equal the window reference ``add_num`` whatever the partitioning
(shuffle-partition count, AQE on or off, groups spread over several
partitions), its merged per-partition statistics must equal per-table
schema inference, a 50-document sync call must stay within its Spark
job budget and run no Python-worker task, and a bulk export must keep
every row at sizes where AQE used to re-partition the counts apart
from the rows.
"""

from __future__ import annotations

import contextlib
import functools
import sqlite3

import pytest
from pyspark.sql import functions as F

from mongo2mysql_spark.operators.sequence import Numbering, add_num
from mongo2mysql_spark.plans.infer import infer_table_schema, infer_table_schemas_grouped
from mongo2mysql_spark.porter import PorterConfig, SparkPorter


@contextlib.contextmanager
def _partitioning(spark, partitions: str, aqe: str):
    keys = {"spark.sql.shuffle.partitions": partitions, "spark.sql.adaptive.enabled": aqe}
    old = {k: spark.conf.get(k) for k in keys}
    for k, v in keys.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def _rows(spark, n, n_groups=3):
    """``n`` rows over ``n_groups`` Zipf-sized groups, ids shuffled
    against the group so every group spans the whole id range."""
    return spark.range(n).select(
        F.format_string("%05d", (F.col("id") * 7919) % n).alias("_id"),
        F.when(F.col("id") % 10 < 6, "t0")
        .when(F.col("id") % 10 < 9, "t1")
        .otherwise(F.concat(F.lit("t"), (2 + F.col("id") % n_groups).cast("string")))
        .alias("_table"),
        F.col("id").alias("v"),
    )


def _jobs(spark, fn):
    """``fn()`` and the number of Spark jobs it ran."""
    sc = spark.sparkContext
    group = f"count-{id(fn)}"
    sc.setJobGroup(group, "jobs of one call")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _numbered(df, order, group=None):
    num = Numbering(df, order, partition_cols=[group] if group else None)
    try:
        runs = num.aggregate()
        return sorted(map(tuple, num.frame().collect())), runs
    finally:
        num.unpersist()


def _reference(df, order, group=None):
    if group is None:  # one constant group: the global sequence
        ref = add_num(df.withColumn("__g", F.lit(0)), ["__g"], order).drop("__g")
    else:
        ref = add_num(df, [group], order)
    return sorted(map(tuple, ref.collect()))


@pytest.mark.parametrize("partitions", ["1", "7"])
@pytest.mark.parametrize("aqe", ["true", "false"])
def test_numbering_matches_window_under_partitioning(spark, partitions, aqe):
    """Both paths equal the window: the range-partitioned one for a
    multi-partition input, and the in-place one for an input already in
    one partition, whose aggregation needs no exchange.  Building a
    Numbering runs no job on either path, also over an input whose plan
    holds a shuffle (counting its partitions would run that shuffle's
    stages under AQE)."""
    df = _rows(spark, 600)
    one = df.coalesce(1)
    with _partitioning(spark, partitions, aqe):
        for group in ("_table", None):
            got, runs = _numbered(df, ["_id"], group)
            assert got == _reference(df, ["_id"], group)
            if group and partitions == "7" and aqe == "false":
                # the groups really do span several partitions here
                assert sum(1 for r in runs if r["_table"] == "t0") > 1
            got, runs = _numbered(one, ["_id"], group)
            assert got == _reference(df, ["_id"], group)
            assert {r["__pid"] for r in runs} == {0}
        for src in (one, df.repartition(5), df.groupBy("_table", "_id").agg(F.max("v"))):
            num, jobs = _jobs(spark, lambda: Numbering(src, ["_id"], partition_cols=["_table"]))
            try:
                assert jobs == 0
                agg = num.cached.groupBy("_table", "__pid").count()
                plan = agg._jdf.queryExecution().executedPlan().toString()
                assert ("Exchange" in plan) == (src is not one), plan
            finally:
                num.unpersist()


def test_numbering_empty_and_single_group(spark):
    empty = _rows(spark, 10).limit(0)
    for group in ("_table", None):
        got, runs = _numbered(empty, ["_id"], group)
        assert got == [] and runs == []
    num = Numbering(empty, ["_id"])
    try:
        # an empty family still gets a schema: every column all-null
        assert infer_table_schema(num, strict=False) == infer_table_schema(
            empty.withColumn("_num", F.lit(1)), strict=False
        )
    finally:
        num.unpersist()
    one = _rows(spark, 300).withColumn("_table", F.lit("only"))
    with _partitioning(spark, "7", "false"):
        got, runs = _numbered(one, ["_id"], "_table")
    assert len(runs) > 1  # one group over several partitions
    assert got == _reference(one, ["_id"], "_table")
    assert sorted(r[-1] for r in got) == list(range(1, 301))


def test_numbering_statistics_match_per_table_inference(spark):
    """Per-partition statistic rows, merged on the driver, give each
    table exactly the schema one whole-table aggregation gives: lengths
    take the max, ISO-ness the min, counts add, and a column that is
    all-null in one partition but not another is not all-null."""
    df = spark.range(400).select(
        F.format_string("%04d", "id").alias("_id"),
        F.when(F.col("id") % 4 == 0, "a").otherwise("b").alias("_table"),
        F.when(F.col("id") < 200, F.lit(None).cast("string"))
        .otherwise(F.repeat(F.lit("x"), (F.col("id") % 97).cast("int")))
        .alias("s"),
        F.when(F.col("id") == 399, F.lit("not a date"))
        .otherwise(F.lit("2024-01-02T03:04:05")).alias("iso"),
        F.when(F.col("id") % 4 == 0, F.lit(None)).otherwise(F.col("id")).alias("n"),
    )
    with _partitioning(spark, "7", "false"):
        routed = Numbering(df, ["_id"], partition_cols=["_table"])
        child = Numbering(df.drop("_table"), ["_id"])
        try:
            grouped = infer_table_schemas_grouped(routed, "_table", strict=False)
            frames = {t: routed.frame(t).drop("_table") for t in ("a", "b")}
            assert grouped == {
                t: infer_table_schema(f, strict=False) for t, f in frames.items()
            }
            assert grouped["b"]["iso"] == "varchar(50)" and grouped["a"]["iso"] == "datetime"
            assert infer_table_schema(child, strict=False) == infer_table_schema(
                child.frame(), strict=False
            )
        finally:
            routed.unpersist()
            child.unpersist()


JOB_BUDGET = 7


# 50 orders with one spill: 75 ``items`` rows over 38 of the orders
SYNC_DOCS = [
    {"_id": i, "status": "open" if i % 3 else "done",
     "items": [{"sku": f"s{i}-{j}", "qty": j} for j in range(i % 4)]}
    for i in range(1, 51)
]


def _sync_into_sqlite(spark, tmp_path):
    """One 50-document ``incremental_export`` call into a fresh sqlite
    file: its result and the rows that arrived, per table."""
    from mongo2mysql_spark.sync import incremental_export
    from tests.test_sinks_sources import _FakeCollection

    db = str(tmp_path / "sink.db")
    result = incremental_export(
        spark, _FakeCollection(SYNC_DOCS), "orders", SparkPorter(spark, PorterConfig()),
        functools.partial(sqlite3.connect, db), batch_size=50,
    )
    con = sqlite3.connect(db)
    try:
        parents = con.execute("SELECT _id, status FROM orders ORDER BY _id").fetchall()
        items = con.execute(
            "SELECT _parentid, _index, sku, qty FROM orders__items ORDER BY _parentid, _index"
        ).fetchall()
    finally:
        con.close()
    return result, parents, items


def _assert_synced(result, parents, items):
    assert result["docs"] == 50 and result["tables"] == {"orders", "orders__items"}
    assert parents == [(d["_id"], d["status"]) for d in SYNC_DOCS]
    assert items == [
        (d["_id"], j, it["sku"], it["qty"]) for d in SYNC_DOCS for j, it in enumerate(d["items"])
    ]


def test_sync_call_job_budget(spark, tmp_path):
    """One 50-document catch-up call of a one-spill collection runs at
    most JOB_BUDGET Spark jobs: the batch's schema inference, then per
    table family, already in one partition and so numbered with no
    range exchange, its cache fill and its aggregation, then one write
    per table."""
    (result, parents, items), jobs = _jobs(spark, lambda: _sync_into_sqlite(spark, tmp_path))
    _assert_synced(result, parents, items)
    assert jobs <= JOB_BUDGET, jobs


def test_sync_call_runs_no_python_worker_task(spark, tmp_path, monkeypatch):
    """A sync call reads its batch and writes its tables without a
    Python-worker task: with ``parallelize`` (a Python RDD source) and
    ``foreachPartition`` (an executor-side write) both raising, every
    parent and item row still arrives."""
    from pyspark import SparkContext

    def forbidden(*args, **kwargs):
        raise AssertionError("Python-worker path on the sync path")

    monkeypatch.setattr(SparkContext, "parallelize", forbidden)
    monkeypatch.setattr(type(spark.range(1)), "foreachPartition", forbidden)
    _assert_synced(*_sync_into_sqlite(spark, tmp_path))


# documents whose JSON schema exercises inference: nested structs,
# arrays of structs, keys missing in some documents, int in one and
# float in another, an all-null field, unicode, ints above 2**53 and
# key names that need quoting
READER_DOCS = [
    {"_id": 1, "doc-id": "a", "n": 1, "big": 2**53 + 1, "none": None,
     "meta": {"lang": "en", "tags": ["x", "y"]},
     "items": [{"sku": "k1", "qty": 1}, {"sku": "k2"}], "na`me": "tick"},
    {"_id": 2, "doc-id": "b", "n": 2.5, "big": 2**62, "none": None,
     "meta": {"lang": "日本語", "score": 0.5}, "items": [], "text": "héllo 🌍"},
    {"_id": 3, "n": -7, "none": None, "meta": {}, "items": [{"qty": 3, "extra": {"d": True}}]},
]


def test_default_batch_reader_matches_python_rdd_reader(spark):
    """``sync._default_batch_df`` gives the schema (field order and
    types) and rows of the JSON reader over a ``parallelize``d Python
    RDD, in one partition and with no PythonRDD in its lineage."""
    import json

    from mongo2mysql_spark.sync import _default_batch_df

    oracle = spark.read.json(
        spark.sparkContext.parallelize([json.dumps(d) for d in READER_DOCS], 1)
    )
    got = _default_batch_df(spark, READER_DOCS)
    assert got.schema == oracle.schema, (got.schema, oracle.schema)
    assert got.collect() == oracle.collect()
    assert got.rdd.getNumPartitions() == 1
    lineage = got._jdf.queryExecution().toRdd().toDebugString()
    assert "PythonRDD" not in lineage, lineage


ROUTES = (  # (key template, destination table, share of events in 1000)
    ("user:{}", "user", 464),
    ("post:{}", "post", 216),
    ("topic:{}:posts", "topic_posts", 138),
    ("tag:w{}:topics", "tag_topics", 101),
    ("uid:{}:followed", "uid_followed", 81),
)


def _mongo_frames(spark, tmp_path, n_docs, n_files):
    """Events whose Zipfian ``_key`` routes to the 5 ROUTES tables and
    documents with ``tags`` arrays, each written as ``n_files`` parquet
    files (one file reads as one scan partition, as a single exported
    collection file does) with high-entropy text, so the row shuffle
    outweighs the count shuffle."""
    bucket = F.pmod(F.hash("id"), F.lit(1000))
    key, hi = None, 0
    for template, _, share in ROUTES:
        hi += share
        pre, _, post = template.partition("{}")
        k = F.concat(F.lit(pre), F.col("id").cast("string"), F.lit(post))
        key = F.when(bucket < hi, k) if key is None else key.when(bucket < hi, k)
    events = spark.range(3 * n_docs).select(
        (F.col("id") + 1).alias("_id"),
        key.alias("_key"),
        (F.col("id") % 5000).alias("user_id"),
        F.sha2(F.col("id").cast("string"), 256).alias("kind"),
    )
    words = F.array(*[F.lit(f"w{i}") for i in range(12)])
    documents = spark.range(n_docs).select(
        (F.col("id") + 1).alias("_id"),
        F.concat(F.lit("title "), F.col("id").cast("string")).alias("title"),
        F.concat_ws(" ", *[F.sha2((F.col("id") * 7 + i).cast("string"), 256)
                           for i in range(3)]).alias("body"),
        F.slice(words, 1, (F.col("id") % 6).cast("int")).alias("tags"),
    )
    frames = {}
    for name, df in (("events", events), ("documents", documents)):
        path = str(tmp_path / name)
        df.repartition(n_files).write.parquet(path)
        frames[name] = spark.read.parquet(path)
    routed = events.groupBy(F.regexp_extract("_key", r"^(\w+):", 1).alias("p")).count()
    prefix_table = {t.split(":")[0]: table for t, table, _ in ROUTES}
    expected = {prefix_table[r["p"]]: r["count"] for r in routed.collect()}
    expected["documents"] = n_docs
    expected["documents__tags"] = documents.select(F.sum(F.size("tags"))).first()[0]
    return frames, expected


@pytest.mark.slow
@pytest.mark.parametrize("n_files", [1, 3])
def test_bulk_export_keeps_every_row(spark, tmp_path, n_files):
    """At 12,500 documents and 37,500 events every destination table
    keeps all its rows and ``_num`` runs exactly 1..n.  This is the
    smallest size tried at which a numbering that takes its counts
    from a second execution of the range exchange lost rows of both
    collections under AQE (half the documents, and whole routed
    tables); at 7,500 documents it lost none.  One file per collection
    takes the in-place path; three files take the range exchange."""
    frames, expected = _mongo_frames(spark, tmp_path, 12_500, n_files)
    exports = SparkPorter(spark, PorterConfig()).run_to_frames(frames)
    got = {}
    try:
        for exp in exports.values():
            for t, df in exp.tables.items():
                got[t] = tuple(df.agg(
                    F.count(F.lit(1)), F.min("_num"), F.max("_num"), F.countDistinct("_num")
                ).first())
    finally:
        for exp in exports.values():
            exp.unpersist()
    assert got == {t: (n, 1, n, n) for t, n in expected.items()}
