"""Sink/source coverage beyond the sqlite happy path (SURVEY.md §2
A1/A14/A15/A16): mongodb reader option construction (the connector jar
is absent in this container, so the option dict is the testable seam),
DDL execution over a live DBAPI connection, and upsert batching /
connection-bounding behavior."""

from __future__ import annotations

import os
import sqlite3
import tempfile

import pytest
from pyspark.sql import Row

from mongo2mysql_spark.plans.ddl import create_table_sql, evolve_schema_sql
from mongo2mysql_spark.sources.jdbc import execute_ddl, upsert_sql, write_upsert
from mongo2mysql_spark.sources.mongodb import reader_options


def test_mongodb_reader_options():
    """Option dict parity with the reference's cursor read
    (Porter.php:140-150): uri/db/collection always present, schema
    sampling bounded, optional aggregation pipeline pushed server-side
    (the vestigial pushed predicate, Porter.php:139)."""
    opts = reader_options("mongodb://h:27017", "forum", "users")
    assert opts == {
        "connection.uri": "mongodb://h:27017",
        "database": "forum",
        "collection": "users",
        "sampleSize": "1000",
    }
    # pushed aggregation pipeline + custom sample horizon
    opts = reader_options(
        "mongodb://h:27017", "forum", "posts",
        sample_size=50,
        pipeline='[{"$match": {"deleted": false}}]',
    )
    assert opts["aggregation.pipeline"] == '[{"$match": {"deleted": false}}]'
    assert opts["sampleSize"] == "50"


def test_execute_ddl_on_live_connection():
    """The schema-pass statements run verbatim over one DBAPI
    connection (sqlite accepts MySQL backtick quoting)."""
    with tempfile.TemporaryDirectory() as tmp:
        db = os.path.join(tmp, "t.db")

        def factory():
            return sqlite3.connect(db)

        create = create_table_sql(
            "docs", {"_id": "varchar(24)", "x": "int"}, ("_id",)
        )
        execute_ddl([create], factory)
        # evolution rerun: new column arrives -> ADD COLUMN executes
        stmts = evolve_schema_sql(
            "docs",
            {"_id": "varchar(24)", "x": "int"},
            {"_id": "varchar(24)", "x": "int", "y": "varchar(50)"},
        )
        assert stmts == ["ALTER TABLE `docs` ADD COLUMN `y` varchar(50)"]
        execute_ddl(stmts, factory)
        conn = factory()
        cols = [r[1] for r in conn.execute("PRAGMA table_info(docs)")]
        conn.close()
        assert cols == ["_id", "x", "y"]


def test_evolution_never_touches_primary_key():
    """Reference parity: the PK is fixed at creation (Porter.php:115-120
    sets `_id` / (`_parentid`,`_index`) once); reruns must never emit
    PK-altering DDL even when the PK column's type observation widens."""
    stmts = evolve_schema_sql(
        "docs",
        {"_id": "varchar(24)", "v": "int"},
        {"_id": "varchar(50)", "v": "int"},
        ("_id",),
    )
    assert stmts == ["ALTER TABLE `docs` MODIFY COLUMN `_id` varchar(50)"]
    assert not any("PRIMARY KEY" in s or "DROP" in s for s in stmts)


def test_upsert_batching_and_connection_bound(spark):
    """write_upsert honors batch_size (multiple executemany flushes) and
    max_connections (coalesce bounds concurrent sink connections — the
    scale lever vs. the reference's one-row-one-roundtrip loop)."""
    with tempfile.TemporaryDirectory() as tmp:
        db = os.path.join(tmp, "t.db")
        conn = sqlite3.connect(db)
        conn.execute("CREATE TABLE t (_id TEXT PRIMARY KEY, v INT)")
        conn.commit()
        conn.close()

        import functools

        factory = functools.partial(sqlite3.connect, db)
        df = spark.createDataFrame(
            [Row(_id=f"{i:03d}", v=i) for i in range(100)]
        ).repartition(8)
        # sqlite cannot take concurrent writers: the connection bound is
        # load-bearing for the test, exactly as it would be for a real
        # MySQL max_connections limit
        write_upsert(df, "t", factory, batch_size=7, max_connections=1)
        conn = sqlite3.connect(db)
        n, vsum = conn.execute("SELECT COUNT(*), SUM(v) FROM t").fetchone()
        assert (n, vsum) == (100, 4950)
        # rerun with updated values: REPLACE keeps it idempotent per _id
        df2 = spark.createDataFrame([Row(_id=f"{i:03d}", v=i + 1) for i in range(100)])
        write_upsert(df2, "t", factory, batch_size=7, max_connections=1)
        n2, vsum2 = conn.execute("SELECT COUNT(*), SUM(v) FROM t").fetchone()
        conn.close()
        assert (n2, vsum2) == (100, 5050)


def test_upsert_sql_paramstyles():
    """Statement generation across DBAPI paramstyles (sqlite qmark vs
    MySQL format) and all three modes."""
    assert upsert_sql("t", ["a"], mode="append") == "INSERT INTO `t` (`a`) VALUES (?)"
    assert (
        upsert_sql("t", ["a", "b"], mode="upsert", paramstyle="format")
        == "INSERT INTO `t` (`a`, `b`) VALUES (%s, %s) "
        "ON DUPLICATE KEY UPDATE `a`=VALUES(`a`), `b`=VALUES(`b`)"
    )
    with pytest.raises(ValueError):
        upsert_sql("t", ["a"], mode="merge")


def test_widen_on_rerun_monotone():
    """Rerun evolution sequence (A13/A14): types only ever widen; a later
    rerun observing NARROWER values must emit no DDL at all (the live
    table's type already covers them — Porter.php:405-429 widening is a
    join, so evolve is monotone and idempotent)."""
    # run 1: table absent -> CREATE
    run1 = evolve_schema_sql("docs", None, {"_id": "varchar(24)", "v": "int"}, ("_id",))
    assert len(run1) == 1 and run1[0].startswith("CREATE TABLE IF NOT EXISTS `docs`")
    # run 2: v widened int -> double, new column arrives
    run2 = evolve_schema_sql(
        "docs",
        {"_id": "varchar(24)", "v": "int"},
        {"_id": "varchar(24)", "v": "double", "note": "varchar(100)"},
    )
    assert set(run2) == {
        "ALTER TABLE `docs` ADD COLUMN `note` varchar(100)",
        "ALTER TABLE `docs` MODIFY COLUMN `v` double",
    }
    # run 3: this batch's values are narrower (v ints, short notes) ->
    # widen(double,int)=double, widen(varchar(100),varchar(50))=varchar(100):
    # nothing to do
    run3 = evolve_schema_sql(
        "docs",
        {"_id": "varchar(24)", "v": "double", "note": "varchar(100)"},
        {"_id": "varchar(24)", "v": "int", "note": "varchar(50)"},
    )
    assert run3 == []
    # run 4: text always wins (terminal lattice top), and only v moves
    run4 = evolve_schema_sql(
        "docs",
        {"_id": "varchar(24)", "v": "double", "note": "varchar(100)"},
        {"_id": "varchar(24)", "v": "text", "note": "varchar(100)"},
    )
    assert run4 == ["ALTER TABLE `docs` MODIFY COLUMN `v` text"]


def test_child_table_composite_pk_and_text_prefix():
    """Child tables get the reference's (`_parentid`, `_index`) composite
    PK (Porter.php:115-120); MySQL text PK columns need a prefix length
    (191 keeps the index under utf8mb4's 767-byte cap)."""
    ddl = create_table_sql(
        "docs_items",
        {"_parentid": "varchar(24)", "_index": "int", "val": "double"},
        ("_parentid", "_index"),
    )
    assert "PRIMARY KEY (`_parentid`, `_index`)" in ddl
    text_pk = create_table_sql("kv", {"k": "text", "v": "int"}, ("k",))
    assert "PRIMARY KEY (`k`(191))" in text_pk
    with pytest.raises(ValueError):
        create_table_sql("bad", {"v": "int"}, ("_id",))


def test_mongodb_pipeline_and_sampling_options():
    """Aggregation pipeline + sample-size knobs reach the connector
    option dict unchanged (pushdown seam, Porter.php:139)."""
    opts = reader_options(
        "mongodb://h:27017", "forum", "posts",
        sample_size=50,
        pipeline='[{"$match": {"archived": false}}]',
    )
    assert opts["sampleSize"] == "50"
    assert opts["aggregation.pipeline"] == '[{"$match": {"archived": false}}]'


def test_evolution_idempotent_and_never_drops():
    """Re-running evolution with an identical inferred schema emits zero
    statements; a column that disappears from a later batch is never
    dropped (destination schemas only grow — the reference never removes
    a column once created, Porter.php:86-123)."""
    from mongo2mysql_spark.plans.ddl import evolve_schema_sql

    existing = {"_id": "varchar(50)", "a": "int", "b": "text"}
    # identical re-run: nothing to do
    assert evolve_schema_sql("t", existing, dict(existing), ("_id",)) == []
    # 'b' absent from the new batch, 'c' new: only the ADD is emitted
    stmts = evolve_schema_sql("t", existing, {"_id": "varchar(50)", "a": "int", "c": "double"})
    assert stmts == ["ALTER TABLE `t` ADD COLUMN `c` double"]
    assert not any("DROP" in s for s in stmts)


def test_create_without_primary_key_and_reserved_words():
    """Tables with no PK create cleanly, and reserved-word identifiers
    (`order`, `group`) are backtick-quoted everywhere."""
    from mongo2mysql_spark.plans.ddl import alter_table_sql, create_table_sql

    sql = create_table_sql("order", {"group": "int", "select": "text"})
    assert "PRIMARY KEY" not in sql
    assert "`order`" in sql and "`group`" in sql and "`select`" in sql

    stmts = alter_table_sql("order", add={"from": "int"}, modify={"group": "bigint"})
    assert stmts == [
        "ALTER TABLE `order` ADD COLUMN `from` int",
        "ALTER TABLE `order` MODIFY COLUMN `group` bigint",
    ]


def test_upsert_retry_after_partial_batch_is_idempotent(spark):
    """The sink's crash contract (why REPLACE, not INSERT): a task that
    dies mid-partition leaves a committed PREFIX of its batches; the
    retry re-runs the whole partition over the same connection factory
    and must converge to exactly-once row state — REPLACE-on-PK absorbs
    the replayed prefix (Porter.php:207 semantics under Spark
    speculative execution / task retry)."""
    import functools

    with tempfile.TemporaryDirectory() as tmp:
        db = os.path.join(tmp, "t.db")
        trip = os.path.join(tmp, "trip")  # first-attempt failure latch
        conn = sqlite3.connect(db)
        conn.execute("CREATE TABLE t (_id TEXT PRIMARY KEY, v INT)")
        conn.commit()
        conn.close()
        factory = functools.partial(_failing_once_connect, db, trip, 2)
        df = spark.createDataFrame(
            [Row(_id=f"{i:03d}", v=i) for i in range(40)]
        ).coalesce(1)
        # attempt 1: dies after 2 committed batches (a partial prefix)
        with pytest.raises(Exception, match="injected mid-partition failure"):
            write_upsert(df, "t", factory, batch_size=7, max_connections=1)
        conn = sqlite3.connect(db)
        n_partial = conn.execute("SELECT COUNT(*) FROM t").fetchone()[0]
        conn.close()
        assert 0 < n_partial < 40  # the crash left real committed rows
        # attempt 2 (the retry): same data, full partition
        write_upsert(df, "t", factory, batch_size=7, max_connections=1)
        conn = sqlite3.connect(db)
        n, vsum = conn.execute("SELECT COUNT(*), SUM(v) FROM t").fetchone()
        conn.close()
        assert (n, vsum) == (40, sum(range(40)))


class _FailingCursor:
    def __init__(self, cur, trip_path, fail_after):
        self._cur, self._trip, self._fail_after = cur, trip_path, fail_after
        self._n = 0

    def executemany(self, sql, batch):
        assert sql.startswith("REPLACE INTO `t`")  # the idempotent form
        if not os.path.exists(self._trip):
            self._n += 1
            if self._n > self._fail_after:
                with open(self._trip, "w") as fh:
                    fh.write("tripped")
                raise RuntimeError("injected mid-partition failure")
        return self._cur.executemany(sql, batch)

    def __getattr__(self, name):
        return getattr(self._cur, name)


class _FailingConn:
    def __init__(self, conn, trip_path, fail_after):
        self._conn, self._trip, self._fail_after = conn, trip_path, fail_after

    def cursor(self):
        return _FailingCursor(self._conn.cursor(), self._trip, self._fail_after)

    def __getattr__(self, name):
        return getattr(self._conn, name)


def _failing_once_connect(db, trip_path, fail_after):
    return _FailingConn(sqlite3.connect(db), trip_path, fail_after)


def test_upsert_statement_text_and_batch_boundaries():
    """Recording-DBAPI check of the wire protocol: every executemany
    carries the identical parameterized REPLACE statement, batches cut
    at batch_size with the remainder flushed last, and one commit per
    batch (crash granularity = one batch)."""
    calls: list[tuple[str, int]] = []
    commits: list[int] = []

    class Cur:
        def executemany(self, sql, batch):
            calls.append((sql, len(batch)))

    class Conn:
        def cursor(self):
            return Cur()

        def commit(self):
            commits.append(len(calls))

        def close(self):
            pass

    from mongo2mysql_spark.sources.jdbc import write_upsert as wu

    rows = [(f"{i}", i) for i in range(10)]

    class FakeDF:
        columns = ["_id", "v"]

        def foreachPartition(self, fn):
            fn(iter(rows))

        def toLocalIterator(self):
            return iter(rows)

    # executor-side partitions, then the driver-side one-connection path
    for max_connections in (None, 1):
        calls.clear()
        commits.clear()
        wu(FakeDF(), "t", Conn, batch_size=4, max_connections=max_connections)
        assert [n for _, n in calls] == [4, 4, 2]
        assert {s for s, _ in calls} == {"REPLACE INTO `t` (`_id`, `v`) VALUES (?, ?)"}
        assert commits == [1, 2, 3]  # one commit after each flush


def test_mongodb_reader_option_matrix():
    """The 100 TB read levers land in the option dict with the public
    connector's names, and absent knobs emit no keys at all."""
    base = reader_options("mongodb://h:27017", "forum", "users")
    assert "partitioner" not in base and "readPreference.name" not in base
    full = reader_options(
        "mongodb://h:27017", "forum", "posts",
        sample_size=200,
        pipeline='[{"$match": {"ok": true}}]',
        partitioner="com.mongodb.spark.sql.connector.read.partitioner.PaginateBySizePartitioner",
        partition_size_mb=128,
        read_preference="secondaryPreferred",
    )
    assert full["sampleSize"] == "200"
    assert full["partitioner"].endswith("PaginateBySizePartitioner")
    assert full["partitioner.options.partition.size"] == "128MB"
    assert full["readPreference.name"] == "secondaryPreferred"
    assert full["aggregation.pipeline"] == '[{"$match": {"ok": true}}]'


def test_evolution_widen_is_directional():
    """MODIFY targets come from the widening lattice: an int column
    seeing text widens to text, but a text column seeing int stays text
    (never narrows), and varchar widths only grow."""
    from mongo2mysql_spark.plans.ddl import evolve_schema_sql

    up = evolve_schema_sql("t", {"x": "int"}, {"x": "text"})
    assert up == ["ALTER TABLE `t` MODIFY COLUMN `x` text"]
    down = evolve_schema_sql("t", {"x": "text"}, {"x": "int"})
    assert down == []
    widths = evolve_schema_sql(
        "t", {"s": "varchar(50)"}, {"s": "varchar(255)"}
    )
    assert widths == ["ALTER TABLE `t` MODIFY COLUMN `s` varchar(255)"]
    assert evolve_schema_sql("t", {"s": "varchar(255)"}, {"s": "varchar(50)"}) == []


def _counting_factory(db_path, marker_dir):
    """Picklable factory: drops one marker file per connection opened,
    so the test can count real connection fan-in across partitions."""
    import os
    import sqlite3
    import uuid

    open(os.path.join(marker_dir, uuid.uuid4().hex), "w").close()
    return sqlite3.connect(db_path, timeout=30)


def test_upsert_max_connections_bounds_fanin(spark, tmp_path):
    """max_connections=N coalesces before the write, so exactly N
    connections open no matter how many input partitions — the knob
    that keeps a 1000-task stage from opening 1000 MySQL sessions."""
    import functools
    import os
    import sqlite3

    from mongo2mysql_spark.sources.jdbc import write_upsert

    db = str(tmp_path / "t.db")
    marker = str(tmp_path / "conns")
    os.makedirs(marker)
    con = sqlite3.connect(db)
    con.execute("CREATE TABLE t (id INTEGER PRIMARY KEY, v TEXT)")
    con.commit()
    con.close()

    df = spark.range(0, 100, 1, 8).selectExpr("id", "CAST(id AS STRING) AS v")
    write_upsert(
        df,
        "t",
        functools.partial(_counting_factory, db, marker),
        max_connections=2,
        batch_size=10,
    )
    assert len(os.listdir(marker)) == 2  # 8 partitions -> 2 connections
    con = sqlite3.connect(db)
    assert con.execute("SELECT count(*), min(id), max(id) FROM t").fetchone() == (
        100,
        0,
        99,
    )
    con.close()


def _sqlite_table(path, ddl):
    con = sqlite3.connect(path)
    con.execute(ddl)
    con.commit()
    con.close()


def test_upsert_one_connection_writes_every_partition(spark, tmp_path):
    """max_connections=1 writes all partitions of a 3-partition frame
    through one connection, and an empty frame writes nothing."""
    import functools

    db = str(tmp_path / "t.db")
    marker = tmp_path / "conns"
    marker.mkdir()
    _sqlite_table(db, "CREATE TABLE t (id INTEGER PRIMARY KEY, v TEXT)")
    factory = functools.partial(_counting_factory, db, str(marker))
    df = spark.range(0, 100, 1, 3).selectExpr("id", "CAST(id AS STRING) AS v")
    write_upsert(df, "t", factory, batch_size=7, max_connections=1)
    assert len(os.listdir(marker)) == 1
    con = sqlite3.connect(db)
    assert con.execute("SELECT count(*), sum(id), min(v), max(v) FROM t").fetchone() == (
        100, 4950, "0", "99",
    )
    con.close()

    empty = df.where("id < 0")
    write_upsert(empty, "t", factory, batch_size=7, max_connections=1)
    con = sqlite3.connect(db)
    assert con.execute("SELECT count(*) FROM t").fetchone()[0] == 100
    con.close()


class _StatementFailed(Exception):
    pass


def test_upsert_one_connection_failure_mid_stream(spark, tmp_path):
    """A statement that fails mid-stream on the one-connection path
    raises its own exception (not a Py4J wrapper), keeps the committed
    batches, closes the connection and leaves no job running: the next
    partition is never computed, let alone prefetched."""
    db = str(tmp_path / "t.db")
    _sqlite_table(db, "CREATE TABLE t (id INTEGER PRIMARY KEY, s TEXT)")
    opened = []

    class Cur:
        def __init__(self, cur):
            self._cur, self._n = cur, 0

        def executemany(self, sql, batch):
            self._n += 1
            if self._n == 3:
                raise _StatementFailed("third batch")
            return self._cur.executemany(sql, batch)

    class Conn:
        def __init__(self):
            self._con, self.closed = sqlite3.connect(db), False
            opened.append(self)

        def cursor(self):
            return Cur(self._con.cursor())

        def commit(self):
            self._con.commit()

        def close(self):
            self.closed = True
            self._con.close()

    # partition 0 is fast; every row of partitions 1 and 2 sleeps, so a
    # prefetch of partition 1 would still be running when the write fails
    df = spark.range(0, 30, 1, 3).selectExpr(
        "id",
        "CASE WHEN id >= 10 THEN reflect('java.lang.Thread', 'sleep', CAST(200 AS BIGINT))"
        " END AS s",
    )
    with pytest.raises(_StatementFailed) as err:
        write_upsert(df, "t", Conn, batch_size=4, max_connections=1)  # a closure: no pickling
    assert err.type is _StatementFailed
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert sc.statusTracker().getActiveJobsIds() == []
    assert len(opened) == 1 and opened[0].closed
    con = sqlite3.connect(db)
    assert con.execute("SELECT count(*), max(id) FROM t").fetchone() == (8, 7)
    con.close()


def test_list_collections_gating_without_pymongo():
    """Collection enumeration (A1) degrades to a clear error when
    pymongo is absent (this container), instead of an ImportError deep
    in a job."""
    import pytest

    from mongo2mysql_spark.sources.mongodb import list_collections

    try:
        import pymongo  # noqa: F401

        pytest.skip("pymongo installed; gating path not reachable")
    except ImportError:
        pass
    with pytest.raises(RuntimeError, match="pymongo not installed"):
        list_collections("mongodb://h:27017", "db")


def test_widen_then_upsert_interleave_live(spark, tmp_path):
    """Full rerun lifecycle on one LIVE table: CREATE -> upsert batch 1
    -> a wider batch arrives -> evolution DDL runs -> upsert batch 2 —
    the exact interleave the reference does per collection per run
    (Porter.php:104-207 schema pass then data pass).  sqlite executes
    the CREATE/ADD verbatim; MODIFY is MySQL-only syntax (sqlite is
    dynamically typed, so the widened values land regardless) and is
    asserted as statement text.
    """
    import functools
    import sqlite3

    db = str(tmp_path / "live.db")
    factory = functools.partial(sqlite3.connect, db)

    # run 1: table absent -> CREATE, then the first data pass
    run1 = evolve_schema_sql(
        "docs", None, {"_id": "varchar(24)", "v": "int"}, ("_id",)
    )
    execute_ddl(run1, factory)
    b1 = spark.createDataFrame([("a", 1), ("b", 2)], ["_id", "v"])
    write_upsert(b1, "docs", factory, batch_size=1)

    # run 2: the next batch widened v int->double and grew a column
    run2 = evolve_schema_sql(
        "docs",
        {"_id": "varchar(24)", "v": "int"},
        {"_id": "varchar(24)", "v": "double", "note": "varchar(50)"},
        ("_id",),
    )
    assert set(run2) == {
        "ALTER TABLE `docs` ADD COLUMN `note` varchar(50)",
        "ALTER TABLE `docs` MODIFY COLUMN `v` double",
    }
    execute_ddl([s for s in run2 if "ADD COLUMN" in s], factory)

    # data pass 2: REPLACE an existing _id with a widened value + note,
    # insert a fresh row; untouched rows must survive with NULL note
    b2 = spark.createDataFrame(
        [("a", 1.5, "updated"), ("c", 3.0, "new")], ["_id", "v", "note"]
    )
    write_upsert(b2, "docs", factory, batch_size=1)

    conn = factory()
    rows = dict(
        (r[0], (r[1], r[2]))
        for r in conn.execute("SELECT _id, v, note FROM docs ORDER BY _id")
    )
    conn.close()
    assert rows == {"a": (1.5, "updated"), "b": (2, None), "c": (3.0, "new")}

    # run 3 sees only the (already covered) live schema -> no DDL
    run3 = evolve_schema_sql(
        "docs",
        {"_id": "varchar(24)", "v": "double", "note": "varchar(50)"},
        {"_id": "varchar(24)", "v": "int", "note": "varchar(10)"},
        ("_id",),
    )
    assert run3 == []


def test_list_collections_against_fake_pymongo(monkeypatch):
    """Collection enumeration (A1, Porter.php:92 listCollections) through
    a stub pymongo module: names come back sorted and the client gets
    the caller's URI verbatim."""
    import sys
    import types

    from mongo2mysql_spark.sources import mongodb as mdb

    seen = {}

    class _FakeDB:
        def list_collection_names(self):
            return ["users", "posts", "comments"]

    class _FakeClient:
        def __init__(self, uri):
            seen["uri"] = uri

        def __getitem__(self, name):
            seen["db"] = name
            return _FakeDB()

    fake = types.ModuleType("pymongo")
    fake.MongoClient = _FakeClient
    monkeypatch.setitem(sys.modules, "pymongo", fake)

    out = mdb.list_collections("mongodb://h:27017/?replicaSet=rs0", "forum")
    assert out == ["comments", "posts", "users"]
    assert seen == {"uri": "mongodb://h:27017/?replicaSet=rs0", "db": "forum"}


def test_identifier_quoting_escapes_backticks_live():
    """Mongo field names can contain backticks; bare f-string backtick
    quoting emits broken/injectable SQL.  quote_ident doubles them —
    verified as statement text AND by a live sqlite round-trip (sqlite
    shares MySQL's backtick syntax): create a table and column both
    containing backticks, REPLACE a row through upsert_sql, read it
    back."""
    import sqlite3

    from mongo2mysql_spark.plans.ddl import (
        alter_table_sql,
        create_table_sql,
        quote_ident,
    )
    from mongo2mysql_spark.sources.jdbc import upsert_sql

    assert quote_ident("plain") == "`plain`"
    assert quote_ident("we`ird") == "`we``ird`"
    ddl = create_table_sql(
        "ta`ble", {"_id": "bigint", "we`ird": "text"}, primary_key=("_id",)
    )
    assert "`ta``ble`" in ddl and "`we``ird`" in ddl
    stmt = upsert_sql("ta`ble", ["_id", "we`ird"], mode="replace")
    assert stmt == (
        "REPLACE INTO `ta``ble` (`_id`, `we``ird`) VALUES (?, ?)"
    )
    assignments = upsert_sql("t", ["a`b"], mode="upsert")
    assert "`a``b`=VALUES(`a``b`)" in assignments
    for alter in alter_table_sql("ta`ble", add={"x`y": "bigint"}):
        assert "`ta``ble`" in alter and "`x``y`" in alter

    con = sqlite3.connect(":memory:")
    # sqlite has no IF NOT EXISTS objection nor MySQL types issue for
    # this shape; REPLACE INTO is native
    con.execute(ddl.replace("bigint", "integer"))
    con.execute(stmt, (1, "v`alue"))
    con.execute(stmt, (1, "v2"))  # REPLACE on the pk
    rows = con.execute('SELECT * FROM "ta`ble"').fetchall()
    assert rows == [(1, "v2")]
    con.close()


def test_quote_ident_roundtrips_arbitrary_names():
    """Property: any NUL-free name survives quote_ident → live sqlite
    CREATE → pragma table_info readback byte-for-byte (Mongo field
    names are nearly arbitrary UTF-8 and become column names)."""
    import sqlite3

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from mongo2mysql_spark.plans.ddl import quote_ident

    @settings(max_examples=200, deadline=None)
    @given(
        st.text(min_size=1, max_size=40).filter(
            lambda s: "\x00" not in s
        )
    )
    def check(name):
        con = sqlite3.connect(":memory:")
        try:
            con.execute(f"CREATE TABLE t ({quote_ident(name)} integer)")
            cols = [r[1] for r in con.execute("PRAGMA table_info(t)")]
            assert cols == [name]
        finally:
            con.close()

    check()


class _FakeCursor:
    """pymongo-shaped cursor over an in-memory doc list; raises a
    CursorNotFound-style error at a scripted absolute position (the
    classic cursor-timeout mid-export failure)."""

    def __init__(self, docs, fail_state):
        self._docs = docs
        self._fail = fail_state
        self._i = 0

    def sort(self, field, direction):
        assert direction == 1
        self._docs = sorted(self._docs, key=lambda d: d[field])
        return self

    def batch_size(self, n):
        return self

    def __iter__(self):
        return self

    def __next__(self):
        if self._i >= len(self._docs):
            raise StopIteration
        doc = self._docs[self._i]
        if self._fail.get("at") == doc["_id"] and not self._fail.get("done"):
            self._fail["done"] = True
            raise RuntimeError("cursor id not found (timed out)")
        self._i += 1
        return doc


class _FakeCollection:
    def __init__(self, docs, fail_at=None, always_fail=False):
        self.docs = docs
        self.queries: list[dict] = []
        self._fail = {"at": fail_at}
        self._always = always_fail

    def find(self, query):
        self.queries.append(query)
        if self._always:
            raise RuntimeError("network unreachable")
        if query:
            lo = query["_id"]["$gt"]
            docs = [d for d in self.docs if d["_id"] > lo]
        else:
            docs = list(self.docs)
        return _FakeCursor(docs, self._fail)


def test_mongo_cursor_batches_resume_after_error():
    """iter_collection_batches must yield every document exactly once
    and in order when the cursor dies mid-iteration: the find is
    re-issued from the last YIELDED key with an $gt filter, and the
    partially-accumulated batch is discarded, never yielded (the
    exactly-once contract — Porter.php:150's foreach has no such
    recovery; a timeout there loses the export)."""
    from mongo2mysql_spark.sources.mongodb import iter_collection_batches

    docs = [{"_id": i, "v": i * 10} for i in range(23)]
    # fail when the cursor reaches _id 12: batches of 5 → 10 docs
    # yielded, 2 accumulated (10, 11) and discarded
    coll = _FakeCollection(docs, fail_at=12)
    got = list(iter_collection_batches(coll, batch_size=5))
    flat = [d["_id"] for b in got for d in b]
    assert flat == list(range(23)), flat
    assert all(len(b) <= 5 for b in got)
    # first query full scan; the resume query continues from _id 9
    # (the last yielded batch ended there — 10/11 were discarded)
    assert coll.queries[0] == {}
    assert coll.queries[1] == {"_id": {"$gt": 9}}


def test_mongo_cursor_batches_resume_mid_collection_restart():
    """resume_from continues a KILLED export from its last durable key
    without re-reading earlier documents (the re-run path of a
    checkpointed driver loop)."""
    from mongo2mysql_spark.sources.mongodb import iter_collection_batches

    docs = [{"_id": i} for i in range(10)]
    coll = _FakeCollection(docs)
    got = list(iter_collection_batches(coll, batch_size=4, resume_from=5))
    assert [d["_id"] for b in got for d in b] == [6, 7, 8, 9]
    assert coll.queries == [{"_id": {"$gt": 5}}]


def test_mongo_cursor_batches_retry_budget_is_consecutive():
    """A collection that keeps failing exhausts max_retries and raises;
    the budget counts CONSECUTIVE failures only (a yielded batch resets
    it, so a long export isn't killed by sporadic timeouts)."""
    import pytest as _pytest

    from mongo2mysql_spark.sources.mongodb import iter_collection_batches

    coll = _FakeCollection([{"_id": 1}], always_fail=True)
    with _pytest.raises(RuntimeError, match="network"):
        list(iter_collection_batches(coll, batch_size=2, max_retries=2))
    assert len(coll.queries) == 3  # initial + 2 retries


def test_plan_read_partitions_covers_every_row():
    """Partition predicates are a disjoint cover of the integers:
    every key (including keys OUTSIDE the sampled [lo, hi]) matches
    exactly one fragment — the late-insert guarantee."""
    import sqlite3

    from mongo2mysql_spark.sources.jdbc import plan_read_partitions

    preds = plan_read_partitions(0, 1000, 7, "k")
    assert len(preds) == 7
    con = sqlite3.connect(":memory:")
    con.execute("CREATE TABLE t (k INTEGER)")
    keys = list(range(-50, 1100, 7)) + [0, 1000, -1, 1001]
    con.executemany("INSERT INTO t VALUES (?)", [(k,) for k in keys])
    total = 0
    for p in preds:
        total += con.execute(f"SELECT count(*) FROM t WHERE {p}").fetchone()[0]
    assert total == len(keys)  # disjoint AND complete
    # every key matches exactly one predicate
    multi = con.execute(
        "SELECT count(*) FROM t WHERE "
        + " AND ".join(f"({p})" for p in preds[:2])
    ).fetchone()[0]
    assert multi == 0


def test_plan_read_partitions_edges_and_pushdown():
    from mongo2mysql_spark.sources.jdbc import plan_read_partitions

    # degenerate range and single partition collapse to catch-all
    assert plan_read_partitions(5, 5, 4, "k") == ["1=1"]
    assert plan_read_partitions(0, 10, 1, "k") == ["1=1"]
    # stride-0 (more partitions than keys) degrades to per-key ranges
    preds = plan_read_partitions(0, 3, 10, "k")
    assert len(preds) == 3
    # extra predicate lands on every fragment
    preds = plan_read_partitions(0, 100, 3, "k", "src = 'a'")
    assert all("src = 'a'" in p for p in preds)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        plan_read_partitions(0, 10, 0, "k")
    with _pytest.raises(ValueError):
        plan_read_partitions(10, 0, 2, "k")


def test_plan_read_partitions_unit_range_collapses_to_catchall():
    """hi - lo == 1 with num_partitions >= 2: the stride-0 adjustment
    collapses the plan to ONE fragment, which must be the catch-all —
    a lone 'k < lo+1' fragment drops hi itself and every late insert
    (the r9 ADVICE finding)."""
    import sqlite3

    from mongo2mysql_spark.sources.jdbc import plan_read_partitions

    for n in (2, 3, 16):
        assert plan_read_partitions(5, 6, n, "k") == ["1=1"]
    assert plan_read_partitions(5, 6, 3, "k", "src = 'a'") == [
        "1=1 AND (src = 'a')"
    ]
    # end-to-end: rows at lo, hi AND outside the sampled range all land
    con = sqlite3.connect(":memory:")
    con.execute("CREATE TABLE t (k INTEGER)")
    con.executemany("INSERT INTO t VALUES (?)", [(k,) for k in (4, 5, 6, 7)])
    preds = plan_read_partitions(5, 6, 3, "k")
    total = sum(
        con.execute(f"SELECT count(*) FROM t WHERE {p}").fetchone()[0]
        for p in preds
    )
    assert total == 4


def _sqlite_connect(path):
    import sqlite3

    return sqlite3.connect(path)


def test_read_partitioned_executes_fragments_in_parallel(spark, tmp_path):
    """read_partitioned EXECUTES a partition plan: one Spark task per
    fragment, each opening its own sqlite connection on the executor;
    the union of fragments is exactly the table (late inserts outside
    the sampled [lo, hi] included), and the fragment count is the RDD
    partition count."""
    import functools
    import sqlite3

    from mongo2mysql_spark.sources.jdbc import (
        plan_read_partitions,
        read_partitioned,
    )

    db = str(tmp_path / "src.db")
    con = sqlite3.connect(db)
    con.execute("CREATE TABLE t (k INTEGER, v TEXT)")
    rows = [(k, f"v{k}") for k in range(0, 1000, 3)]
    # late inserts OUTSIDE the planner's sampled [lo, hi]
    rows += [(-7, "early"), (2024, "late")]
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    con.commit()
    con.close()

    preds = plan_read_partitions(0, 999, 4, "k")
    df = read_partitioned(
        spark,
        "t",
        ["k", "v"],
        "k long, v string",
        preds,
        functools.partial(_sqlite_connect, db),
        fetch_size=64,
    )
    assert df.rdd.getNumPartitions() == 4
    got = {(r["k"], r["v"]) for r in df.collect()}
    assert got == set(rows)
    # single-fragment plan (degenerate range) also round-trips
    df1 = read_partitioned(
        spark, "t", ["k"], "k long",
        plan_read_partitions(5, 6, 3, "k"),
        functools.partial(_sqlite_connect, db),
    )
    assert df1.count() == len(rows)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        read_partitioned(
            spark, "t", ["k"], "k long", [],
            functools.partial(_sqlite_connect, db),
        )


def _sqlite_connect_busywait(path):
    import sqlite3

    # parallel fragments contend on sqlite's single writer lock; the
    # busy timeout makes tasks queue instead of erroring (MySQL has no
    # such constraint — fragments write disjoint PK ranges in parallel)
    return sqlite3.connect(path, timeout=30)


def test_write_upsert_partitioned_equals_sequential(spark, tmp_path):
    """Fragment-parallel upsert == sequential write_upsert: same final
    table state, one fragment per Spark task (identity partitioner),
    late re-upserts REPLACE in place."""
    import functools

    from mongo2mysql_spark.sources.jdbc import (
        write_upsert,
        write_upsert_partitioned,
    )

    rows = [Row(_id=i, v=f"v{i}") for i in range(0, 500, 3)]
    df = spark.createDataFrame(rows)
    dbs = {}
    for name in ("par", "seq"):
        db = str(tmp_path / f"{name}.db")
        con = sqlite3.connect(db)
        con.execute("CREATE TABLE t (_id INTEGER PRIMARY KEY, v TEXT)")
        con.commit()
        con.close()
        dbs[name] = db
    n = write_upsert_partitioned(
        df, "t", "_id",
        functools.partial(_sqlite_connect_busywait, dbs["par"]),
        num_fragments=4, batch_size=16,
    )
    assert n == 4
    write_upsert(
        df, "t", functools.partial(_sqlite_connect_busywait, dbs["seq"]),
        batch_size=16, max_connections=1,
    )
    got = {}
    for name, db in dbs.items():
        con = sqlite3.connect(db)
        got[name] = set(con.execute("SELECT _id, v FROM t").fetchall())
        con.close()
    assert got["par"] == got["seq"] == {(r._id, r.v) for r in rows}
    # re-upsert with changed values: REPLACE converges, no duplicates
    df2 = spark.createDataFrame([Row(_id=i, v=f"w{i}") for i in range(0, 500, 3)])
    write_upsert_partitioned(
        df2, "t", "_id",
        functools.partial(_sqlite_connect_busywait, dbs["par"]),
        num_fragments=4, batch_size=16,
    )
    con = sqlite3.connect(dbs["par"])
    upd = set(con.execute("SELECT _id, v FROM t").fetchall())
    con.close()
    assert upd == {(r._id, r.v) for r in df2.collect()}


def test_write_upsert_partitioned_killed_fragment_retry_converges(spark, tmp_path):
    """The A15 retry contract on the fragment executor: a fragment
    killed mid-write leaves a committed prefix; re-running the same
    partitioned upsert converges to exactly-once row state (REPLACE
    idempotence over the fragment's own key range — Porter.php:207
    semantics under task retry)."""
    import functools

    from mongo2mysql_spark.sources.jdbc import write_upsert_partitioned

    db = str(tmp_path / "t.db")
    trip = str(tmp_path / "trip")
    con = sqlite3.connect(db)
    con.execute("CREATE TABLE t (_id TEXT PRIMARY KEY, v INT)")
    con.commit()
    con.close()
    factory = functools.partial(_failing_once_connect, db, trip, 2)
    df = spark.createDataFrame([Row(_id=f"{i:03d}", v=i) for i in range(60)])
    # string PK: key_col cast to long is NULL -> single fragment, the
    # all-NULL domain path (numeric-PK fragmenting is the test above)
    with pytest.raises(Exception, match="injected mid-partition failure"):
        write_upsert_partitioned(
            df.coalesce(1), "t", "_id", factory,
            num_fragments=1, batch_size=7,
        )
    con = sqlite3.connect(db)
    n_partial = con.execute("SELECT COUNT(*) FROM t").fetchone()[0]
    con.close()
    assert 0 < n_partial < 60  # real committed prefix survived the kill
    write_upsert_partitioned(
        df.coalesce(1), "t", "_id", factory, num_fragments=1, batch_size=7
    )
    con = sqlite3.connect(db)
    n, vsum = con.execute("SELECT COUNT(*), SUM(v) FROM t").fetchone()
    con.close()
    assert (n, vsum) == (60, sum(range(60)))


def test_write_upsert_partitioned_fragment_layout_contract(spark, tmp_path):
    """Fragment boundaries agree with the read planner (shared
    fragment_layout): every row lands in the fragment whose read
    predicate selects it; degenerate domains collapse to one fragment;
    empty frames write nothing and open no connection."""
    import functools

    from mongo2mysql_spark.sources.jdbc import (
        fragment_layout,
        plan_read_partitions,
        write_upsert_partitioned,
    )

    assert fragment_layout(5, 5, 8) == (1, 1)
    assert fragment_layout(5, 6, 3)[0] == 1
    n, stride = fragment_layout(0, 999, 4)
    assert (n, stride) == (4, 249)
    # cross-check: the executor's clamp assigns each key to the same
    # fragment index whose planner predicate matches it
    preds = plan_read_partitions(0, 999, 4, "k")
    con = sqlite3.connect(":memory:")
    con.execute("CREATE TABLE probe (k INTEGER)")
    for k in (0, 248, 249, 500, 996, 999):
        con.execute("DELETE FROM probe")
        con.execute("INSERT INTO probe VALUES (?)", (k,))
        sql_frag = [
            i for i, p in enumerate(preds)
            if con.execute(f"SELECT count(*) FROM probe WHERE {p}").fetchone()[0]
        ]
        clamp = min(n - 1, max(0, k // stride))
        assert sql_frag == [clamp]
    con.close()
    # degenerate: single-key domain still writes everything
    db = str(tmp_path / "one.db")
    c = sqlite3.connect(db)
    c.execute("CREATE TABLE t (_id INTEGER PRIMARY KEY, v TEXT)")
    c.commit()
    c.close()
    df = spark.createDataFrame([Row(_id=7, v="a")])
    assert write_upsert_partitioned(
        df, "t", "_id", functools.partial(_sqlite_connect_busywait, db),
        num_fragments=8,
    ) == 1
    c = sqlite3.connect(db)
    assert c.execute("SELECT _id, v FROM t").fetchall() == [(7, "a")]
    c.close()
    # empty frame: no fragments beyond the catch-all, no rows written
    empty = spark.createDataFrame([], "_id long, v string")
    assert write_upsert_partitioned(
        empty, "t", "_id", functools.partial(_sqlite_connect_busywait, db)
    ) == 1
    c = sqlite3.connect(db)
    assert c.execute("SELECT COUNT(*) FROM t").fetchone()[0] == 1
    c.close()
    with pytest.raises(ValueError):
        write_upsert_partitioned(
            empty, "t", "nope",
            functools.partial(_sqlite_connect_busywait, db),
        )


@pytest.mark.slow
def test_mongo_export_e2e_cursor_death_exactly_once(spark, tmp_path):
    """The full reference loop under failure, end to end: fake-pymongo
    cursor batches -> porter pipeline -> sqlite REPLACE upsert, with
    (a) a cursor death mid-walk (auto-resumed via the $gt re-issue)
    and (b) a process kill between batches (resumed via resume_from at
    the sink's last durable key).  Every parent and child row lands
    EXACTLY once per key — the Porter.php:138-150 contract the
    reference itself loses on a timeout."""
    import functools
    import json

    from mongo2mysql_spark.porter import PorterConfig, SparkPorter
    from mongo2mysql_spark.sources.jdbc import execute_ddl, write_upsert
    from mongo2mysql_spark.sources.mongodb import iter_collection_batches

    docs = [
        {"_id": i, "v": i * 10, "meta": {"lang": "en" if i % 2 else "fr"},
         "tokens": [f"t{i}a", f"t{i}b"]}
        for i in range(23)
    ]
    db = str(tmp_path / "dst.db")
    factory = functools.partial(_sqlite_connect_busywait, db)
    porter = SparkPorter(spark, PorterConfig())

    def batch_df(batch):
        return spark.read.json(
            spark.sparkContext.parallelize([json.dumps(d) for d in batch])
        )

    def sink_batch(batch, ddl_done):
        export = porter.export_collection(batch_df(batch), "c")
        if not ddl_done:
            execute_ddl(export.ddl, factory)
        for t, tdf in export.tables.items():
            write_upsert(tdf, t, factory, max_connections=1)
        export.unpersist()
        return set(export.tables)

    # ---- phase 1: cursor dies at _id 12; the iterator re-issues the
    # find from the last yielded key.  Simulate a PROCESS kill too:
    # stop consuming after 3 sunk batches.
    coll = _FakeCollection(docs, fail_at=12)
    tables, ddl_done, sunk = set(), False, 0
    for batch in iter_collection_batches(coll, batch_size=5):
        tables |= sink_batch(batch, ddl_done)
        ddl_done = True
        sunk += 1
        if sunk == 3:
            break  # the kill
    assert coll.queries[0] == {} and coll.queries[1] == {"_id": {"$gt": 9}}
    con = sqlite3.connect(db)
    durable = con.execute("SELECT MAX(_id) FROM c").fetchone()[0]
    n_partial = con.execute("SELECT COUNT(*) FROM c").fetchone()[0]
    con.close()
    assert 0 < n_partial < len(docs) and durable is not None

    # ---- phase 2: the restarted export resumes from the last durable
    # key; overlap (a re-upserted batch) is absorbed by REPLACE
    coll2 = _FakeCollection(docs)
    for batch in iter_collection_batches(
        coll2, batch_size=5, resume_from=durable
    ):
        tables |= sink_batch(batch, ddl_done=True)
    assert coll2.queries[0] == {"_id": {"$gt": durable}}

    con = sqlite3.connect(db)
    parent = con.execute(
        "SELECT _id, v, meta_lang FROM c ORDER BY _id"
    ).fetchall()
    child_tbl = [t for t in tables if t != "c"]
    assert len(child_tbl) == 1  # the tokens spill
    kids = con.execute(
        f"SELECT _parentid, _index, tokens FROM `{child_tbl[0]}` "
        f"ORDER BY _parentid, _index"
    ).fetchall()
    con.close()
    # exactly once per key, values intact
    assert [r[0] for r in parent] == list(range(23))
    assert all(r[1] == r[0] * 10 for r in parent)
    assert all(r[2] == ("en" if r[0] % 2 else "fr") for r in parent)
    assert len(kids) == 23 * 2
    assert {(p, i) for p, i, _ in kids} == {
        (p, i) for p in range(23) for i in (0, 1)
    }
    assert all(v == f"t{p}{'ab'[i]}" for p, i, v in kids)
