"""CLI smoke: argparse surface parity with cli.php + one end-to-end
subprocess run (parquet source → parquet sink)."""

from __future__ import annotations

import subprocess
import sys
import tempfile
from pathlib import Path

import pytest

from mongo2mysql_spark.cli import build_parser


def test_parser_reference_options():
    # the 9 reference options (cli.php:18-26)
    args = build_parser().parse_args(
        ["--dbname", "db", "--host", "h", "--port", "3307", "-u", "u", "-p", "s",
         "--mdbname", "m", "--limit", "5", "--dataonly", "--skip", "a,b"]
    )
    assert (args.dbname, args.host, args.port) == ("db", "h", 3307)
    assert (args.username, args.password, args.mdbname) == ("u", "s", "m")
    assert (args.limit, args.dataonly, args.skip) == (5, True, "a,b")


def test_parser_requires_source(capsys):
    from mongo2mysql_spark import cli

    # error path (cli.php:36-41): bad config → nonzero exit, message on stderr
    rc = None
    argv = ["--dbname", "x"]  # no source at all
    # run main but it will build a spark session; to keep this cheap, only
    # check the parser-level default wiring here
    args = build_parser().parse_args(argv)
    assert args.source_dir is None and args.mongo_uri is None


@pytest.mark.slow
def test_cli_end_to_end_subprocess():
    with tempfile.TemporaryDirectory() as tmp:
        proc = subprocess.run(
            [sys.executable, "-m", "mongo2mysql_spark.cli",
             "--source-dir", "/root/testdata/sf0.001",
             "--collections", "region,nation",
             "--output-dir", tmp, "--limit", "10", "--progress"],
            capture_output=True, text=True, timeout=300,
            cwd=str(Path(__file__).resolve().parent.parent),
        )
        assert proc.returncode == 0, proc.stderr[-2000:]
        assert "region -> region" in proc.stdout
        assert (Path(tmp) / "region.parquet").exists()
        # --progress: A17 per-table throughput lines rode the sink writes
        assert " * region: 5 rows" in proc.stdout


@pytest.mark.slow
def test_cli_stream_mode_matches_batch(spark, tmp_path, monkeypatch):
    """--stream replays collections as bounded streams through the batch
    porter via foreachBatch; a single-file collection is one micro-batch,
    so output must equal the batch run exactly.  Each stream's
    checkpoint dir is removed once its query ends."""
    from mongo2mysql_spark.cli import main

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    with tempfile.TemporaryDirectory() as s_out, tempfile.TemporaryDirectory() as b_out:
        rc = main(["--source-dir", "/root/testdata/sf0.001",
                   "--collections", "region,nation", "--stream",
                   "--output-dir", s_out])
        assert rc == 0
        assert not [p.name for p in tmp_path.iterdir()
                    if p.name.startswith("m2m_stream_")]
        rc = main(["--source-dir", "/root/testdata/sf0.001",
                   "--collections", "region,nation",
                   "--output-dir", b_out])
        assert rc == 0
        for t in ("region", "nation"):
            streamed = spark.read.parquet(f"{s_out}/{t}.parquet")
            batch = spark.read.parquet(f"{b_out}/{t}.parquet")
            assert sorted(streamed.columns) == sorted(batch.columns)
            cols = sorted(streamed.columns)
            assert (
                streamed.select(cols).exceptAll(batch.select(cols)).count() == 0
                and batch.select(cols).exceptAll(streamed.select(cols)).count() == 0
            )


def test_cli_corpus_mode(spark, tmp_path, capsys):
    """--corpus runs the one-call builder over the documents collection
    and prints the stage report as one JSON line; shards land on disk."""
    import json
    import os

    from mongo2mysql_spark.cli import main

    out = str(tmp_path / "corpus")
    rc = main([
        "--corpus",
        "--source-dir", "/root/testdata/sf0.001",
        "--output-dir", out,
        "--dsir-keep-frac", "0.5",
        "--dsir-target-source", "src0",
        "--passage-dedup",
        "--seq-len", "256",
        "--n-shards", "2",
    ])
    assert rc == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["after_dsir_select"] <= report["after_quality_filter"]
    assert report["n_shards"] == 2
    assert os.path.isdir(os.path.join(out, "train"))
    # missing dirs -> usage error, not a traceback
    assert main(["--corpus"]) == 2


def test_cli_explain_query(spark, capsys):
    """--explain-query prints a formatted physical plan for a registry
    query; 'list' enumerates; unknown names fail with usage rc."""
    from mongo2mysql_spark.cli import main

    rc = main(["--explain-query", "q1_pricing_summary",
               "--source-dir", "/root/testdata/sf0.001"])
    out = capsys.readouterr().out
    assert rc == 0 and "Physical Plan" in out and "Scan parquet" in out
    rc = main(["--explain-query", "list"])
    names = capsys.readouterr().out.split()
    assert rc == 0 and "q1_pricing_summary" in names and len(names) == 50
    assert main(["--explain-query", "nope", "--source-dir", "/x"]) == 2


def test_cli_corpus_web_cleaning_flags(spark, tmp_path, capsys):
    """--html-strip / --c4-clean plumb through to the builder.  On the
    fixture's single-line unpunctuated word soup the C4 page rules drop
    every document, so this also drives the empty-survivor path end to
    end from the CLI."""
    import json

    from mongo2mysql_spark.cli import main

    out = str(tmp_path / "corpus")
    rc = main([
        "--corpus",
        "--source-dir", "/root/testdata/sf0.001",
        "--output-dir", out,
        "--html-strip",
        "--c4-clean",
        "--seq-len", "128",
        "--n-shards", "2",
    ])
    assert rc == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["after_c4_clean"] == 0
    assert report["train_docs"] == 0 and report["n_sequences"] == 0


def test_cli_host_blocklist_requires_url_col(spark, tmp_path, capsys):
    """--host-blocklist without --url-col must be a usage error, not a
    silent no-op: the builder only applies the host filter when it
    knows the URL column, and a user passing a blocklist believes
    blocked hosts were dropped."""
    from mongo2mysql_spark.cli import main

    bl = tmp_path / "blocked.txt"
    bl.write_text("spam.biz\n")
    rc = main([
        "--corpus",
        "--source-dir", "/root/testdata/sf0.001",
        "--output-dir", str(tmp_path / "corpus"),
        "--host-blocklist", str(bl),
    ])
    assert rc == 2
    assert "--url-col" in capsys.readouterr().err


@pytest.mark.slow
def test_cli_sqlite_partial_failure_converges(spark, tmp_path):
    """VERDICT r7 ask #4: route→flatten→widen→upsert driven through
    cli.py against sqlite under a simulated partial failure.  Run 1
    loads a SUBSET of the collection (the rows a killed run had
    committed via REPLACE batches before dying); run 2 re-runs over the
    full source into the same database.  The database must converge to
    exactly the state of a fresh full run — REPLACE-on-PK absorbs the
    partial state (Porter.php:207), and _num values written by the
    partial run are OVERWRITTEN, not preserved (SURVEY §2.1 trap 7:
    counters reset per run, so a re-run renumbers)."""
    import sqlite3

    from pyspark.sql import Row
    from pyspark.sql import types as T

    from mongo2mysql_spark import cli

    schema = T.StructType([
        T.StructField("_id", T.StringType()),
        T.StructField("_key", T.StringType()),
        T.StructField("title", T.StringType()),
        T.StructField("score", T.DoubleType()),
        T.StructField("created", T.TimestampType()),
        T.StructField("profile", T.StructType([
            T.StructField("city", T.StringType()),
        ])),
        T.StructField("tags", T.ArrayType(T.StringType())),
    ])
    import datetime as dt

    def mk(i):
        return Row(
            _id=f"{i:024d}",
            _key=("tag:%d:topics" % i) if i % 2 else ("user:%d" % i),
            title=f"title-{i:03d}",
            score=float(i),
            created=dt.datetime(2021, 1, 1, 0, 0, i % 60),
            profile=Row(city=f"c{i % 5}"),
            tags=[f"t{i}", f"u{i}"] if i % 4 else [],
        )

    full = [mk(i) for i in range(30)]
    partial = [r for i, r in enumerate(full) if i % 3 != 2]  # killed mid-run

    src_full = tmp_path / "src_full"
    src_part = tmp_path / "src_part"
    for rows, d in ((full, src_full), (partial, src_part)):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(d / "journal.parquet")
        )

    def dump(db):
        con = sqlite3.connect(db)
        try:
            tables = sorted(
                r[0] for r in con.execute(
                    "SELECT name FROM sqlite_master WHERE type='table'"
                )
            )
            return {
                t: sorted(map(tuple, con.execute(f"SELECT * FROM `{t}`")))
                for t in tables
            }
        finally:
            con.close()

    db = str(tmp_path / "out.db")
    assert cli.main(["--source-dir", str(src_part),
                     "--collections", "journal", "--sqlite", db]) == 0
    after_partial = dump(db)
    assert cli.main(["--source-dir", str(src_full),
                     "--collections", "journal", "--sqlite", db]) == 0
    converged = dump(db)

    db2 = str(tmp_path / "fresh.db")
    assert cli.main(["--source-dir", str(src_full),
                     "--collections", "journal", "--sqlite", db2]) == 0
    fresh = dump(db2)

    assert set(converged) == set(fresh) and len(converged) >= 2  # parent + child
    for t in fresh:
        assert converged[t] == fresh[t], t

    # the trap-7 proof: some overlapping _id carried a DIFFERENT _num in
    # the partial state than in the converged one (renumbered, not kept)
    renumbered = False
    for t, rows in after_partial.items():
        if t not in converged:
            continue
        final = {r[:1]: r for r in converged[t]}
        for r in rows:
            if r[:1] in final and r != final[r[:1]]:
                renumbered = True
    assert renumbered, "partial-run rows were never overwritten"


def test_cli_analyze_writes_joinable_stats(spark, tmp_path, capsys):
    """--analyze persists per-table key-histogram artifacts over a
    SHARED domain; estimates served from the stored parquet equal the
    on-the-fly estimator with zero table contact."""
    import json

    from mongo2mysql_spark.cli import main
    from mongo2mysql_spark.operators.histjoin import (
        hist_join_estimate,
        hist_join_estimate_from_stats,
    )
    from mongo2mysql_spark.sources.parquet import load_table

    out = str(tmp_path / "out")
    rc = main([
        "--analyze", "orders.o_custkey,customer.c_custkey",
        "--source-dir", "/root/testdata/sf0.001",
        "--output-dir", out,
    ])
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    arts = summary["analyze"]["artifacts"]
    sa = spark.read.parquet(arts["orders.o_custkey"])
    sb = spark.read.parquet(arts["customer.c_custkey"])
    got = {
        r["bucket"]: (r["n_a"], r["d_a"], r["n_b"], r["d_b"], r["est"])
        for r in hist_join_estimate_from_stats(sa, sb).collect()
    }
    o = load_table(spark, "/root/testdata/sf0.001", "orders")
    c = load_table(spark, "/root/testdata/sf0.001", "customer")
    ref = {
        r["bucket"]: (r["n_a"], r["d_a"], r["n_b"], r["d_b"], r["est"])
        for r in hist_join_estimate(o, "o_custkey", c, "c_custkey").collect()
    }
    assert got == ref
    # malformed spec and missing dirs are clean errors
    assert main(["--analyze", "orders", "--source-dir", "x",
                 "--output-dir", out]) == 2
    assert main(["--analyze", "orders.o_custkey"]) == 2


@pytest.mark.slow
def test_cli_incremental_sync_fake_pymongo(spark, tmp_path, monkeypatch):
    """--incremental drives sync.incremental_export end to end: first
    run exports everything, a rerun after new documents reads ONLY the
    tail past the sink's MAX(_id), and missing args error cleanly."""
    import sqlite3
    import sys as _sys
    import types

    from tests.test_sinks_sources import _FakeCollection

    docs = [{"_id": i, "v": i * 2} for i in range(12)]
    coll = _FakeCollection(docs)

    class _DB:
        def list_collection_names(self):
            return ["c"]

        def __getitem__(self, name):
            assert name == "c"
            return coll

    class _Client:
        def __init__(self, uri):
            assert uri == "mongodb://fake"

        def __getitem__(self, name):
            assert name == "d"
            return _DB()

    fake = types.ModuleType("pymongo")
    fake.MongoClient = _Client
    monkeypatch.setitem(_sys.modules, "pymongo", fake)

    from mongo2mysql_spark.cli import main

    db = str(tmp_path / "inc.db")
    args = ["--mongo-uri", "mongodb://fake", "--mdbname", "d",
            "--sqlite", db, "--incremental"]
    assert main(args) == 0
    assert coll.queries == [{}]

    docs.extend({"_id": i, "v": i * 2} for i in range(12, 15))
    assert main(args) == 0
    assert coll.queries[-1] == {"_id": {"$gt": 11}}

    con = sqlite3.connect(db)
    got = con.execute("SELECT count(*), max(_id) FROM c").fetchone()
    con.close()
    assert got == (15, 14)

    assert main(["--incremental"]) == 2
