"""Golden tests for the ETL parity core against a Mongo-document-shaped
fixture (FIXTURES.md §B shape, built in-test): flatten paths, array and
big-object spill, routing chain, _num contiguity, schema inference,
DDL, and the sqlite-backed upsert sink.
"""

from __future__ import annotations

import os
import sqlite3
import tempfile
from datetime import datetime, timezone

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mongo2mysql_spark.operators.flatten import flat_column_count, flatten
from mongo2mysql_spark.operators.routing import add_table_column, route_key_expr
from mongo2mysql_spark.operators.sequence import add_num, add_num_two_phase
from mongo2mysql_spark.operators.spill import child_table_name, spill_child
from mongo2mysql_spark.plans.ddl import create_table_sql, evolve_schema_sql, quote_ident
from mongo2mysql_spark.plans.infer import infer_table_schema
from mongo2mysql_spark.porter import PorterConfig, SparkPorter
from mongo2mysql_spark.sources.jdbc import upsert_sql, write_upsert


def _utc(*args):
    # naive UTC — session TZ is pinned to UTC
    return datetime(*args)


@pytest.fixture(scope="module")
def docs(spark):
    """Nested 'collection' exercising every parity trap."""
    big = {f"k{i:02d}": f"v{i}" for i in range(30)}  # >25 keys → spill
    schema = T.StructType([
        T.StructField("_id", T.StringType()),
        T.StructField("_key", T.StringType()),
        T.StructField("title", T.StringType()),
        T.StructField("score", T.DoubleType()),
        T.StructField("created", T.TimestampType()),
        T.StructField("profile", T.StructType([
            T.StructField("name", T.StringType()),
            T.StructField("address", T.StructType([
                T.StructField("city", T.StringType()),
                T.StructField("zip", T.StringType()),
            ])),
        ])),
        T.StructField("tags", T.ArrayType(T.StringType())),
        T.StructField("members", T.ArrayType(T.StructType([
            T.StructField("uid", T.LongType()),
            T.StructField("role", T.StringType()),
            T.StructField("history", T.ArrayType(T.StringType())),  # nested arr → dropped
        ]))),
        T.StructField("big", T.StructType([
            T.StructField(k, T.StringType()) for k in sorted(big)
        ])),
    ])
    rows = [
        Row(_id="a" * 24, _key="tag:42:topics", title="t1", score=1.0,
            created=_utc(2020, 1, 2, 3, 4, 5, 678901),
            profile=Row(name="ann", address=Row(city="rome", zip="00100")),
            tags=["x", "y"], members=[Row(uid=1, role="admin", history=["h"])],
            big=Row(**big)),
        Row(_id="b" * 24, _key="user:7", title="t2" * 300, score=2.5,
            created=_utc(2021, 6, 7, 8, 9, 10),
            profile=Row(name="bob", address=Row(city="oslo", zip="0150")),
            tags=[], members=[], big=Row(**big)),
        Row(_id="c" * 24, _key="12345", title=None, score=None,
            created=None, profile=None, tags=None, members=None, big=Row(**big)),
    ]
    return spark.createDataFrame(rows, schema)


# ------------------------------------------------------------------- flatten


def test_flatten_paths_and_spills(docs):
    res = flatten(docs)
    cols = res.parent.columns
    assert "profile_name" in cols and "profile_address_city" in cols
    assert "profile_address_zip" in cols
    assert "tags" not in cols and "members" not in cols and "big" not in cols
    kinds = {s.flat_name: s.kind for s in res.spills}
    assert kinds == {"tags": "array", "members": "array", "big": "big_struct"}


def test_flatten_timestamp_seconds_precision(docs):
    # trap 2: reference truncates dates to seconds (gmdate('c', $v->sec))
    res = flatten(docs, ts_seconds=True)
    got = res.parent.filter(F.col("_id") == "a" * 24).select("created").collect()[0][0]
    assert got == _utc(2020, 1, 2, 3, 4, 5)  # micros dropped


def test_flatten_is_single_projection(docs):
    plan = flatten(docs).parent._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in plan and "Aggregate" not in plan


# --------------------------------------------------------------------- spill


def test_scalar_array_spill(docs):
    res = flatten(docs)
    tags = next(s for s in res.spills if s.flat_name == "tags")
    child = spill_child(docs, tags)
    rows = {(r["_parentid"], r["_index"]): r["tags"] for r in child.collect()}
    # null/empty arrays produce no child rows
    assert rows == {("a" * 24, 0): "x", ("a" * 24, 1): "y"}


def test_struct_array_spill_flattens_element_and_drops_nested(docs):
    res = flatten(docs)
    members = next(s for s in res.spills if s.flat_name == "members")
    child = spill_child(docs, members)
    assert set(child.columns) == {"_parentid", "_index", "uid", "role"}  # history dropped
    r = child.collect()[0]
    assert (r["uid"], r["role"], r["_index"]) == (1, "admin", 0)


def test_big_struct_spill_keyed_by_object_key(docs):
    res = flatten(docs)
    big = next(s for s in res.spills if s.flat_name == "big")
    child = spill_child(docs, big)
    rows = child.filter(F.col("_parentid") == "a" * 24).collect()
    assert len(rows) == 30
    m = {r["_index"]: r["big"] for r in rows}
    assert m["k00"] == "v0" and m["k29"] == "v29"


def test_child_table_name():
    assert child_table_name("docs", "profile_tags") == "docs__profile_tags"


# ------------------------------------------------------------------- routing


ROUTING_CASES = [
    ("tag:42:topics", "tag_topics"),
    ("group:cid:9:privileges:groups:members", "group_privileges_members"),
    ("group:cid:9:privileges:read", "group_privileges"),
    ("group:admins:members", "group_members"),
    ("group:admins", "group"),
    ("ip:1.2.3.4:uid", "ip_uid"),
    ("settings:theme:dark", "settings"),
    ("widgets:home", "widgets"),
    ("user:123", "user"),
    ("user:NaN:stuff", "user_stuff"),        # :NaN: → :#: → _
    ("user:undefined:stuff", "user_stuff"),
    ("vote:12:34", "vote"),
    ("12345", "docs"),                        # numeric key → collection fallback
    (None, "docs"),
]


@pytest.mark.parametrize("key,expected", ROUTING_CASES)
def test_routing_chain(spark, key, expected):
    df = spark.createDataFrame([Row(_key=key)], "..._key string".lstrip("."))
    got = df.select(route_key_expr(F.col("_key"), "docs").alias("t")).collect()[0]["t"]
    assert got == expected


def test_routing_without_key_column(spark):
    df = spark.createDataFrame([Row(x=1)])
    out = add_table_column(df, "_key", "events")
    assert out.select("_table").distinct().collect()[0]["_table"] == "events"


# ---------------------------------------------------------------------- _num


def test_num_contiguous_per_table(spark):
    df = spark.createDataFrame(
        [Row(_id=f"{i:03d}", _table="t1" if i % 3 else "t2") for i in range(30)]
    )
    out = add_num(df, ["_table"], ["_id"])
    for t in ("t1", "t2"):
        nums = sorted(r["_num"] for r in out.filter(F.col("_table") == t).collect())
        assert nums == list(range(1, len(nums) + 1))  # 1-based, contiguous


def test_num_two_phase_matches_window(spark):
    df = spark.range(0, 1000).select(F.col("id").alias("k"))
    got = {r["k"]: r["_num"] for r in add_num_two_phase(df, "k").collect()}
    assert got == {i: i + 1 for i in range(1000)}


# ------------------------------------------------------------ infer/ddl/sink


def test_infer_table_schema(spark):
    df = spark.createDataFrame(
        [
            Row(i=1, d=2.0, s="abc", iso="2020-01-02T03:04:05", n=None, long_s="x" * 600),
            Row(i=2, d=3.0, s="y" * 120, iso="2021-01-02T03:04:05", n=None, long_s="y"),
        ],
        "i long, d double, s string, iso string, n string, long_s string",
    )
    assert infer_table_schema(df) == {
        "i": "int",
        "d": "double",
        "s": "varchar(255)",
        "iso": "datetime",
        "n": "int",  # all-null column → int (trap 1)
        "long_s": "text",
    }


def test_create_and_evolve_ddl():
    sql = create_table_sql("docs", {"_id": "varchar(24)", "x": "int"}, ("_id",))
    assert "CREATE TABLE IF NOT EXISTS `docs`" in sql
    assert "PRIMARY KEY (`_id`)" in sql
    stmts = evolve_schema_sql(
        "docs", {"x": "int"}, {"x": "double", "y": "varchar(50)"}, ("_id",)
    )
    assert stmts == [
        "ALTER TABLE `docs` ADD COLUMN `y` varchar(50)",
        "ALTER TABLE `docs` MODIFY COLUMN `x` double",
    ]


def _sqlite_factory(path):
    import functools

    return functools.partial(sqlite3.connect, path)


def test_upsert_sql_modes():
    assert upsert_sql("t", ["a", "b"]) == "REPLACE INTO `t` (`a`, `b`) VALUES (?, ?)"
    assert "ON DUPLICATE KEY UPDATE" in upsert_sql("t", ["a"], mode="upsert", paramstyle="format")


def test_write_upsert_idempotent_sqlite(spark):
    """End-to-end REPLACE-on-PK semantics (Porter.php:207): rerunning the
    same load leaves the table unchanged — retry/replay safe."""
    with tempfile.TemporaryDirectory() as tmp:
        db = os.path.join(tmp, "t.db")
        conn = sqlite3.connect(db)
        conn.execute("CREATE TABLE docs (_id TEXT PRIMARY KEY, v INTEGER)")
        conn.commit()
        conn.close()
        df = spark.createDataFrame([Row(_id=f"id{i}", v=i) for i in range(100)])
        factory = _sqlite_factory(db)
        write_upsert(df, "docs", factory, batch_size=7, max_connections=1)
        write_upsert(df, "docs", factory, batch_size=7, max_connections=1)  # replay
        conn = sqlite3.connect(db)
        rows = conn.execute("SELECT count(*), sum(v) FROM docs").fetchone()
        conn.close()
        assert rows == (100, sum(range(100)))


# ------------------------------------------------------------------- porter


def test_porter_end_to_end(spark, docs):
    porter = SparkPorter(spark, PorterConfig())
    exports = porter.run_to_frames({"docs": docs})
    exp = exports["docs"]
    # routed parent tables + 3 child tables
    assert {"docs__tags", "docs__members", "docs__big"} <= set(exp.tables)
    assert "tag_topics" in exp.tables and "user" in exp.tables and "docs" in exp.tables
    parent = exp.tables["tag_topics"]
    row = parent.collect()[0]
    assert row["profile_address_city"] == "rome"
    assert row["_num"] == 1
    # schema pass ran and emitted DDL with PKs
    assert any("PRIMARY KEY (`_id`)" in s for s in exp.ddl)
    assert any("PRIMARY KEY (`_parentid`, `_index`)" in s for s in exp.ddl)
    # title: 600-char string on one row → text in that table's schema
    assert exp.schemas["user"]["title"] == "text"


# Field names MongoDB (>= 5.0) allows that Spark column references parse:
# a '.' reads as nesting and a backtick as quoting.  "a.b" has a sibling
# struct a{b}, whose flattened name is a_b.
_ODD_DOCS = [
    {"_id": i, "a.b": i, "a": {"b": 100 + i}, "x`y": f"s{i}",
     "p": {"c`d": 2 * i, "e.f": 3 * i}, "t`x": [i, 10 + i]}
    for i in range(3)
]
_ODD_TABLES = {
    "c": (
        ["_id", "a_b", "a.b", "p_c`d", "p_e.f", "x`y", "_num"],
        [(i, 100 + i, i, 2 * i, 3 * i, f"s{i}", i + 1) for i in range(3)],
    ),
    "c__t`x": (
        ["_parentid", "_index", "t`x", "_num"],
        [(i, j, v, 2 * i + j + 1) for i in range(3) for j, v in enumerate((i, 10 + i))],
    ),
}


@pytest.mark.parametrize("path", ["porter", "sync"])
def test_field_names_with_dots_and_backticks(spark, tmp_path, path):
    """Field names holding '.' or a backtick reach the sqlite sink with
    their own values and quoted DDL, through the porter and through an
    incremental sync call."""
    import functools
    import re

    from mongo2mysql_spark import sync
    from mongo2mysql_spark.sources.jdbc import execute_ddl, stringify_temporals
    from tests.test_sinks_sources import _FakeCollection

    factory = functools.partial(sqlite3.connect, str(tmp_path / "odd.db"))
    ddl: list[str] = []

    def run_ddl(stmts):
        ddl.extend(stmts)
        execute_ddl([re.sub(r"`\((\d+)\)", "`", s) for s in stmts], factory)

    porter = SparkPorter(spark, PorterConfig())
    if path == "porter":
        porter.run(
            {"c": sync._default_batch_df(spark, _ODD_DOCS)},
            sink=lambda t, df: write_upsert(
                stringify_temporals(df), t, factory, max_connections=1
            ),
            ddl_executor=run_ddl,
        )
    else:
        got = sync.incremental_export(
            spark, _FakeCollection(_ODD_DOCS), "c", porter, factory,
            ddl_executor=run_ddl,
        )
        assert got["docs"] == 3 and got["tables"] == set(_ODD_TABLES)

    con = factory()
    try:
        for table, (cols, rows) in _ODD_TABLES.items():
            cur = con.execute(f"SELECT * FROM {quote_ident(table)} ORDER BY 1, 2")
            assert [d[0] for d in cur.description] == cols, table
            assert cur.fetchall() == rows, table
    finally:
        con.close()
    text = "\n".join(ddl)
    for ident in ("`c__t``x`", "`a.b`", "`p_c``d`", "`p_e.f`", "`x``y`", "`t``x`"):
        assert ident in text, (ident, text)


@pytest.mark.slow
def test_porter_skip_and_wide(spark, docs):
    porter = SparkPorter(spark, PorterConfig(skip={"tag_topics"}))
    exp = porter.run_to_frames({"docs": docs})["docs"]
    assert "tag_topics" not in exp.tables

    wide_schema = T.StructType(
        [T.StructField("_id", T.StringType())]
        + [T.StructField(f"c{i}", T.LongType()) for i in range(501)]
        + [T.StructField("tags", T.ArrayType(T.StringType()))]
    )
    wide = spark.createDataFrame([("a", *range(501), ["x", "y"])], wide_schema)
    assert flat_column_count(wide_schema) == 502  # array spills, not counted
    exp2 = SparkPorter(spark, PorterConfig()).run_to_frames({"wide": wide})["wide"]
    assert exp2.skipped_wide == ["wide"]
    # skipped-wide parent emits NO destination table and NO DDL
    # (Porter.php:190-194 skips before ensureRowStructure) ...
    assert "wide" not in exp2.tables
    assert not any("`wide`" in s for s in exp2.ddl)
    # ... but child spills still run (Porter.php:182-188 quirk)
    assert exp2.tables["wide__tags"].count() == 2
    assert any("`wide__tags`" in s for s in exp2.ddl)


def test_porter_single_scan_split(spark, docs):
    """The routing split must not re-scan the source per destination
    table: every table family (the routed parent and each spilled
    child) is persisted once, and its per-table schemas come from ONE
    aggregation over that cache."""
    from mongo2mysql_spark.plans.infer import infer_table_schema, infer_table_schemas_grouped

    exp = SparkPorter(spark, PorterConfig()).run_to_frames({"docs": docs})["docs"]
    families = dict(exp._families)
    assert set(families) == {"docs", "docs__tags", "docs__members", "docs__big"}
    for family in families.values():
        assert family.cached.storageLevel.useMemory  # persisted → split reads cache
    # grouped inference == per-table inference, table by table
    parents = [t for t in exp.tables if "__" not in t]
    grouped = infer_table_schemas_grouped(families["docs"].frame(), "_table", strict=False)
    for t in parents:
        assert exp.schemas[t] == grouped[t]
        assert grouped[t] == infer_table_schema(exp.tables[t], strict=False)
    # each child's merged per-partition statistics == its own inference
    for t in ("docs__tags", "docs__members", "docs__big"):
        assert exp.schemas[t] == infer_table_schema(exp.tables[t], strict=False)
    exp.unpersist()
    assert not exp._families
    for family in families.values():
        assert not family.cached.storageLevel.useMemory


def test_evolve_ddl_edge_cases():
    """Schema-evolution statement coverage beyond the happy path
    (Porter.php:87-123 semantics, batched): widen-on-rerun, never-narrow,
    no-op reruns, text PK prefix lengths."""
    # rerun over existing table: widen varchar, add new col, int -> double
    stmts = evolve_schema_sql(
        "docs",
        {"s": "varchar(50)", "n": "int", "keep": "double"},
        {"s": "varchar(255)", "n": "double", "keep": "double", "extra": "text"},
        ("_id",),
    )
    assert stmts == [
        "ALTER TABLE `docs` ADD COLUMN `extra` text",
        "ALTER TABLE `docs` MODIFY COLUMN `s` varchar(255)",
        "ALTER TABLE `docs` MODIFY COLUMN `n` double",
    ]
    # identical schemas: rerun emits NO statements (idempotent schema pass)
    assert evolve_schema_sql("docs", {"s": "text"}, {"s": "text"}, ("_id",)) == []
    # narrower re-observation never narrows the destination type
    assert evolve_schema_sql("docs", {"s": "text"}, {"s": "varchar(50)"}) == []
    assert evolve_schema_sql("docs", {"n": "double"}, {"n": "int"}) == []
    # text primary key gets the MySQL index prefix length
    sql = create_table_sql("t", {"_id": "text", "v": "int"}, ("_id",))
    assert "PRIMARY KEY (`_id`(191))" in sql
    # composite child-table PK ordering preserved
    sql = create_table_sql(
        "p__c", {"_parentid": "varchar(24)", "_index": "int", "v": "text"},
        ("_parentid", "_index"),
    )
    assert "PRIMARY KEY (`_parentid`, `_index`)" in sql
    # PK column absent from schema is a hard error, not silent bad DDL
    with pytest.raises(ValueError):
        create_table_sql("t", {"v": "int"}, ("_id",))


def test_num_two_phase_grouped(spark):
    """Grouped two-phase sequence: contiguous 1-based per group, exactly
    the windowed per-table counter, without any no-partition window."""
    df = spark.createDataFrame(
        [Row(_id=f"{i:04d}", _table="t1" if i % 3 else "t2") for i in range(500)]
    )
    got = add_num_two_phase(df, ["_id"], partition_cols=["_table"])
    want = add_num(df, ["_table"], ["_id"])
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    # degenerate single-group case (the constant-_table trap)
    one = spark.createDataFrame([Row(_id=f"{i:04d}", _table="only") for i in range(100)])
    nums = sorted(r["_num"] for r in add_num_two_phase(one, ["_id"], partition_cols=["_table"]).collect())
    assert nums == list(range(1, 101))


def test_porter_progress_reporter(spark, docs):
    """A17 telemetry: per-table row counts ride the sink action itself
    (Observation accumulators), no extra scan; counts match the tables."""
    from mongo2mysql_spark.telemetry import ProgressReporter

    lines = []
    reporter = ProgressReporter(emit=lines.append)
    written = {}

    def sink(table, df):
        written[table] = df.count()  # the "action" (a real sink would write)

    exports = SparkPorter(spark, PorterConfig()).run(
        {"docs": docs}, sink=sink, reporter=reporter
    )
    assert set(reporter.finished) == set(exports["docs"].tables)
    for t, progress in reporter.finished.items():
        assert progress.rows == written[t]
        assert progress.rows_per_sec > 0
    assert reporter.total_rows == sum(written.values())
    assert any(" rows/s)" in line for line in lines)
